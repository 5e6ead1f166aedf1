"""One benchmark process: start the engine, run the workload's cold
iteration, warm up, time iterations for ``--seconds``, check outputs and,
with ``--trace 1``, derive per-layer metrics.  Writes its findings as
JSON to ``--result``.

Started by ``run.py`` with a private temp dir, Spark local dir and
working directory, so nothing leaks between processes or runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()

import procfs  # noqa: E402
from tracing import Tracer  # noqa: E402


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    for name in ("workload", "inputs", "state", "result", "counts"):
        ap.add_argument(f"--{name}", required=True)
    for name in ("seed", "cores", "trace", "warmup"):
        ap.add_argument(f"--{name}", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    return ap.parse_args()


def _spark_conf(state: str) -> dict[str, str]:
    tmp = os.path.join(state, "tmp")
    return {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={state}",
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.local.dir": os.path.join(state, "spark-local"),
        # keep every job of a run in the status store for the traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every process it forked
    (Python workers, daemons) has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
                parent[int(name)] = int(raw[raw.rfind(")") + 2 :].split()[1])
            except OSError:
                pass
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        out.extend(kids)
        todo.extend(kids)
    return out


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        return raw[raw.rfind(")") + 2] == "Z"
    except OSError:
        return True


def main() -> int:
    a = _args()
    os.makedirs(os.path.join(a.state, "tmp"), exist_ok=True)
    tracer = Tracer()
    tracing = bool(a.trace)

    from agentic_etl_poc_spark import session

    if tracing:
        tracer.install()
        tracer.enabled = True
        tracer.iteration = 0
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{a.cores}]", extra_conf=_spark_conf(a.state)
    )
    tracer.attach(spark)
    spark.sparkContext.setLogLevel("ERROR")

    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload](a.inputs, a.state, a.seed)
    out: dict = {"attempted": 0, "failed": 0, "errors": [], "iters": []}

    def one(i: int, timed: bool) -> None:
        wl.before(i)
        c0 = procfs.tree_cpu_s() if timed else 0.0
        t0 = time.perf_counter()
        try:
            ok, detail = wl.run(spark, i, tracer)
        except Exception as e:  # a failed iteration counts; the run goes on
            traceback.print_exc()
            ok, detail = False, f"{type(e).__name__}: {e}"[:500]
        t1 = time.perf_counter()
        c1 = procfs.tree_cpu_s() if timed else 0.0
        wl.after(i)
        out["attempted"] += 1
        if not ok:
            out["failed"] += 1
            out["errors"].append(f"iteration {i}: {detail}")
        if timed:
            out["iters"].append({
                "i": i, "wall": t1 - t0, "cpu": c1 - c0, "ok": ok,
                "traced": tracer.enabled, "rows": wl.rows,
                "resident": _resident_bytes(spark) if tracer.enabled else 0,
            })

    one(0, timed=False)
    out["setup_s"] = time.perf_counter() - T_START
    i = 1
    tracer.enabled = False
    # the traced run needs one warm iteration at least: its first timed
    # iteration is traced, and tracing overhead is traced minus untraced
    for _ in range(max(a.warmup, tracing)):
        one(i, timed=False)
        i += 1
    min_iters = 4 if tracing else 3
    end = time.perf_counter() + a.seconds
    k = 0
    while time.perf_counter() < end or k < min_iters:
        # traced run: alternate traced / untraced iterations so the
        # tracing overhead is measured inside one process
        tracer.enabled = tracing and k % 2 == 0
        tracer.iteration = i
        one(i, timed=True)
        i += 1
        k += 1
    tracer.enabled = False
    t0 = time.perf_counter()
    for msg in wl.check(spark):
        out["failed"] += 1
        out["errors"].append(msg)
    out["check_s"] = time.perf_counter() - t0
    if tracing:
        from layers import layer_metrics

        counters = tracer.job_counters()
        out["layers"], counts = layer_metrics(tracer, counters, out["iters"], a.cores, wl)
        _repeat_check(a.counts, counts, out)
        if out["layers"].pop("trace.nesting_errors"):
            out["failed"] += 1
            out["errors"].append("a child span lies outside its parent span")
        tracer.dump(a.counts.replace("counts-", "spans-"), {"counters": counters})
    _stop(spark)
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


def _resident_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def _repeat_check(path: str, counts: dict, out: dict) -> None:
    """Jobs, tasks and shuffle bytes must repeat exactly between traced
    runs of the same seed on the same program source."""
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev != counts:
            diff = {k: (prev.get(k), v) for k, v in counts.items() if prev.get(k) != v}
            out["failed"] += 1
            out["errors"].append(f"counts differ from the previous traced run: {diff}")
    else:
        with open(path, "w") as f:
            json.dump(counts, f, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
