"""In-memory spans around the program's layer boundaries, plus Spark
counters read from the status store after timing.

Nothing in the program changes: ``install`` replaces each public layer
function in every already-imported ``agentic_etl_poc_spark`` module that
holds it (the names ``runtime`` looks up at call time, and the names the
battery entries imported), with a wrapper that opens a span.  A span
records (id, name, parent, iteration, start, end) and sets a Spark job
group, so jobs launched inside it can be attributed afterwards; jobs from
threads the group does not reach (streaming micro-batches) are attributed
by submission time to the innermost span open at that moment.
"""

from __future__ import annotations

import functools
import json
import sys
import time

#: layer -> [(module, attribute)] of the public functions wrapped.  The
#: layer name is the metric prefix.
LAYER_FUNCS = {
    "session": [("agentic_etl_poc_spark.session", "get_spark")],
    "plans": [("agentic_etl_poc_spark.plans.parser", "parse_plan")],
    "transform": [
        ("agentic_etl_poc_spark.operators.transform", "run_single_sql"),
        ("agentic_etl_poc_spark.operators.transform", "run_steps"),
    ],
    "sources": [("agentic_etl_poc_spark.runtime", "extract")],
    "quality": [("agentic_etl_poc_spark.operators.quality", "dq_check")],
    "sinks": [
        ("agentic_etl_poc_spark.sinks.csv_sink", "write_csv"),
        ("agentic_etl_poc_spark.sinks.parquet_sink", "write_parquet"),
    ],
    "verify": [
        ("agentic_etl_poc_spark.operators.verify", "verify_csv"),
        ("agentic_etl_poc_spark.operators.verify", "verify_table"),
        ("agentic_etl_poc_spark.sinks.parquet_sink", "verify_parquet"),
    ],
    "runtime": [("agentic_etl_poc_spark.runtime", "run_from_plan")],
    "streaming": [
        ("agentic_etl_poc_spark.streaming.events", "run_available_now"),
        ("agentic_etl_poc_spark.streaming.events", "run_to_memory"),
        ("agentic_etl_poc_spark.streaming.events", "run_foreach_batch"),
    ],
}
#: RunLedger methods billed to the ``memory`` layer.
LEDGER_METHODS = ("__init__", "get_state", "set_state", "start_run", "finish_run")

_STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.iteration: int | None = None
        self.enabled = False
        self.sc = None

    # ------------------------------------------------------------ spans
    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".")[0],
            "parent": self.stack[-1]["id"] if self.stack else None,
            "iteration": self.iteration,
            "wall0": time.time(),
            "t0": time.perf_counter(),
        }
        self.spans.append(sp)
        self.stack.append(sp)
        self._group(sp["id"])
        return sp

    def _close(self, sp: dict | None) -> None:
        if sp is None:
            return
        sp["t1"] = time.perf_counter()
        sp["wall1"] = time.time()
        self.stack.pop()
        self._group(self.stack[-1]["id"] if self.stack else None)

    def _group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{span_id}", f"perfbench span {span_id}")

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sp)

        return traced

    def install(self) -> None:
        """Wrap every layer function wherever the program holds it."""
        import importlib

        for layer, funcs in LAYER_FUNCS.items():
            for mod_name, attr in funcs:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                name = f"{layer}.{attr}"
                _replace_everywhere(orig, self.wrap(name, orig))
        from agentic_etl_poc_spark.memory import RunLedger

        for meth in LEDGER_METHODS:
            orig = getattr(RunLedger, meth)
            setattr(RunLedger, meth, self.wrap(f"memory.{meth}", orig))

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # --------------------------------------------------------- counters
    def job_counters(self) -> dict[int, dict]:
        """Per-span counters from the status store, attributed by job
        group (or, failing that, by submission time).  Read after
        timing: each getter is a py4j round trip."""
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stages = store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        stage_metrics: dict[int, dict] = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            m = stage_metrics.setdefault(st.stageId(), {f: 0 for f in _STAGE_FIELDS})
            for f in _STAGE_FIELDS:
                m[f] += int(getattr(st, f)())
        closed = [sp for sp in self.spans if "t1" in sp]
        per_span: dict[int, dict] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            sid = None
            if grp.isDefined() and str(grp.get()).startswith("pb-"):
                sid = int(str(grp.get())[3:])
            else:
                sub = job.submissionTime()
                if sub.isDefined():
                    sid = _innermost_at(closed, sub.get().getTime() / 1000.0)
            if sid is None:
                continue
            acc = per_span.setdefault(sid, {"jobs": 0, **{f: 0 for f in _STAGE_FIELDS}})
            acc["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                for f, v in stage_metrics.get(int(ids.apply(k)), {}).items():
                    acc[f] += v
        return per_span

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.sp = tracer, name, None

    def __enter__(self):
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def _innermost_at(spans: list[dict], wall: float) -> int | None:
    best = None
    for sp in spans:
        if sp["wall0"] <= wall <= sp["wall1"]:
            if best is None or sp["wall0"] >= best["wall0"]:
                best = sp
    return None if best is None else best["id"]


def _replace_everywhere(orig, new) -> None:
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not name.startswith("agentic_etl_poc_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
