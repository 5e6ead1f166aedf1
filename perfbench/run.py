"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  Generates the workload's inputs
from the seed, then runs the engine in one fresh worker process: a single
closed-loop client with one Spark session at local[CORES].  The worker
times set-up (import + session start + the cold first iteration), runs
warm-up iterations, times iterations for ``--seconds``, then checks the
outputs.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` the worker wraps the program's layer functions and
reports per-layer metrics instead.  A detail line and a summary line
with every metric and its unit (plus ``fail_ratio``, ``tail_s`` and, for
the plan workloads, ``rows_per_s``) precede the JSON.  ``--workload all``
runs the workloads one after another and ends with one JSON object whose
metric names carry the workload as prefix.  Everything a run creates
lives under ``.perfbench_work/`` and is removed at exit; trace files and
the count record go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: Spark parallelism: local[CORES], one closed-loop client per workload.
#: One of the machine's four cores stays free for the Python driver and
#: the JVM's service threads; local[4] measured noisier (NOTES.md).
CORES = 3
#: untimed warm iterations before the timed window
WARMUP = {"plan_retail_csv": 4, "plan_upsert_ticks": 8, "battery_mix": 2}
WORKER_TIMEOUT_S = 150


def _code_digest() -> str:
    """Hash of the program and benchmark source: a count record is only
    comparable between runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "agentic_etl_poc_spark"), HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(f.encode())
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _make_inputs(workload: str, seed: int, inputs: str) -> None:
    if workload == "plan_retail_csv":
        gen.make_retail(inputs, seed)
    elif workload == "battery_mix":
        gen.make_battery(inputs, seed)
    else:  # increments arrive tick by tick inside the worker
        os.makedirs(inputs, exist_ok=True)


def _worker(args, work: str, inputs: str, counts: str) -> dict:
    state = os.path.join(work, "state")
    os.makedirs(state)
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": os.path.join(state, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(state, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--inputs", inputs, "--state", state,
        "--result", result, "--counts", counts,
        "--seed", str(args.seed), "--cores", str(CORES), "--trace", str(args.trace),
        "--warmup", str(WARMUP[args.workload]), "--seconds", str(args.seconds),
    ]
    # own session: on timeout the whole tree (JVM, Python workers) is killed
    proc = subprocess.Popen(cmd, cwd=state, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"worker timed out after {WORKER_TIMEOUT_S}s")
    finally:
        try:  # anything the worker left behind in its session
            os.killpg(proc.pid, signal.SIGKILL)
        except OSError:
            pass
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"worker failed with exit code {code}")
    with open(result) as f:
        return json.load(f)


def _tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it; the maximum when there are too few."""
    xs = sorted(walls)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _run_one(args) -> dict:
    """Run one workload; print its detail and summary lines; return the
    result object."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    counts = os.path.join(
        outdir, f"counts-{args.workload}-{args.seed}-{_code_digest()}.json"
    )
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        _make_inputs(args.workload, args.seed, inputs)
        m = _worker(args, work, inputs, counts)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted, failed = m["attempted"], m["failed"]
    for e in m["errors"]:
        print(f"perfbench: FAIL {e}", file=sys.stderr)
    it = [r for r in m["iters"] if not r["traced"]]
    walls = [r["wall"] for r in it]
    tail, pct = _tail(walls)
    notes = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "timed_iterations": len(it),
        "iteration_walls_s": [round(w, 3) for w in walls],
        "iteration_cpu_s": [round(r["cpu"], 2) for r in it],
        "fail_ratio": failed / attempted,
        "check_s": m["check_s"],
        f"tail_s_p{pct:.0f}": tail,
    }
    summary = [
        f"fail_ratio {failed / attempted:.4g} ({failed}/{attempted})",
        f"tail_s {tail:.4g} s (p{pct:.0f} of {len(walls)} iterations)",
    ]
    if args.workload.startswith("plan_"):
        notes["rows_per_s"] = sum(r["rows"] for r in it) / sum(walls)
        summary.append(f"rows_per_s {notes['rows_per_s']:.4g} rows/s")
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in m["layers"].items()}
        notes["trace_overhead_s"] = m["layers"]["trace.overhead_s"]
    else:
        values = {
            "setup_s": m["setup_s"],
            "run_s": statistics.median(walls),
            "cpu_s": statistics.median(r["cpu"] for r in it),
        }
        metrics = {k: {"value": v, "unit": "s"} for k, v in values.items()}
    summary = [f"{k} {v['value']:.4g} {v['unit']}" for k, v in metrics.items()] + summary
    print("perfbench: " + json.dumps(notes))
    print(f"perfbench: {args.workload} seed {args.seed}: " + " | ".join(summary))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "agentic_etl_poc_spark", "__init__.py")):
        print("perfbench: no agentic_etl_poc_spark package in this checkout", file=sys.stderr)
        return 2
    if args.workload != "all":
        print(json.dumps(_run_one(args)))
        return 0
    # every workload in turn; metric names carry the workload as prefix
    results = {w: _run_one(argparse.Namespace(**{**vars(args), "workload": w})) for w in WARMUP}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("core_util", "write_amp", "tasks_per_job")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
