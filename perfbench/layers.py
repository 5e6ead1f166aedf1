"""Per-layer metrics from the spans and status-store counters of a traced
run.

Times are the median, over traced iterations, of a layer's span time per
iteration (a layer's span nested inside a span of the same layer is not
counted twice).  Counts (jobs, tasks, bytes) come from the FIRST traced
timed iteration, whose inputs are fixed by the seed, so they repeat
exactly between runs.  ``runtime.self_s`` is ``run_from_plan`` minus the
time its child spans cover.
"""

from __future__ import annotations

import statistics

FAMILIES = "qdtuvg"

#: metric -> (layer, kind).  kinds: "time" (span seconds), "self"
#: (span minus children), or a counter field.
PLAN_METRICS = {
    "plans.parse_s": ("plans", "time"),
    "transform.build_s": ("transform", "time"),
    "memory.ledger_s": ("memory", "time"),
    "runtime.self_s": ("runtime", "self"),
    "runtime.jobs": ("runtime", "jobs"),
    "sources.extract_s": ("sources", "time"),
    "sources.jobs": ("sources", "jobs"),
    "sources.input_bytes": ("sources", "inputBytes"),
    "quality.dq_s": ("quality", "time"),
    "quality.jobs": ("quality", "jobs"),
    "quality.tasks": ("quality", "numCompleteTasks"),
    "quality.exec_cpu_s": ("quality", "exec_cpu_s"),
    "quality.shuffle_bytes": ("quality", "shuffleWriteBytes"),
    "quality.spill_bytes": ("quality", "spill_bytes"),
    "quality.core_util": ("quality", "core_util"),
    "sinks.write_s": ("sinks", "time"),
    "sinks.jobs": ("sinks", "jobs"),
    "sinks.output_bytes": ("sinks", "outputBytes"),
    "sinks.core_util": ("sinks", "core_util"),
    "sinks.write_amp": ("sinks", "write_amp"),
    "verify.verify_s": ("verify", "time"),
    "verify.jobs": ("verify", "jobs"),
    "verify.input_bytes": ("verify", "inputBytes"),
    "queries.build_s": ("queries.build", "time"),
    "queries.force_s": ("queries.force", "time"),
    "queries.jobs": ("queries", "jobs"),
    "queries.tasks_per_job": ("queries", "tasks_per_job"),
    "queries.exec_cpu_s": ("queries", "exec_cpu_s"),
    "queries.shuffle_bytes": ("queries", "shuffleWriteBytes"),
    "queries.core_util": ("queries", "core_util"),
    "streaming.drain_s": ("streaming", "time"),
}
for _f in FAMILIES:
    PLAN_METRICS[f"queries.{_f}.build_s"] = (f"queries.{_f}.build", "time")
    PLAN_METRICS[f"queries.{_f}.force_s"] = (f"queries.{_f}.force", "time")

#: counters asserted to repeat exactly between runs of one seed
REPEAT_FIELDS = ("jobs", "numCompleteTasks", "shuffleWriteBytes")


def _matches(span: dict, key: str) -> bool:
    """``key`` is a layer ("quality") or a span-name prefix
    ("queries.build" matches "queries.q.build")."""
    if "." not in key:
        return span["layer"] == key
    head, tail = key.split(".", 1)
    return span["layer"] == head and (
        span["name"].endswith("." + tail) or span["name"] == key
    )


def layer_metrics(tracer, counters: dict, iters: list[dict], cores: int, wl):
    spans = tracer.spans
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)

    def dur(sp):
        return sp["t1"] - sp["t0"]

    def inclusive(sp) -> dict:
        acc = dict(counters.get(sp["id"], {}))
        for ch in kids.get(sp["id"], ()):
            for f, v in inclusive(ch).items():
                acc[f] = acc.get(f, 0) + v
        return acc

    def top(key: str, it) -> list[dict]:
        """Spans of ``key`` in iteration ``it`` not nested in another."""
        out = []
        for sp in spans:
            if sp["iteration"] != it or not _matches(sp, key):
                continue
            p, nested = sp["parent"], False
            while p is not None:
                if _matches(spans[p], key):
                    nested = True
                    break
                p = spans[p]["parent"]
            if not nested:
                out.append(sp)
        return out

    traced = [r for r in iters if r["traced"]]
    untraced = [r for r in iters if not r["traced"]]
    count_it = traced[0]["i"]

    def per_iter(key: str, kind: str, it) -> float:
        sps = top(key, it)
        if kind == "time":
            return sum(dur(s) for s in sps)
        if kind == "self":
            return sum(dur(s) - sum(dur(c) for c in kids.get(s["id"], ())) for s in sps)
        acc: dict = {}
        for s in sps:
            for f, v in inclusive(s).items():
                acc[f] = acc.get(f, 0) + v
        wall = sum(dur(s) for s in sps)
        if kind == "exec_cpu_s":
            return acc.get("executorCpuTime", 0) / 1e9
        if kind == "spill_bytes":
            return acc.get("memoryBytesSpilled", 0) + acc.get("diskBytesSpilled", 0)
        if kind == "core_util":
            return acc.get("executorRunTime", 0) / 1000.0 / (wall * cores) if wall else 0.0
        if kind == "tasks_per_job":
            return acc.get("numCompleteTasks", 0) / acc["jobs"] if acc.get("jobs") else 0.0
        if kind == "write_amp":
            return acc.get("outputBytes", 0) / wl.input_bytes if wl.input_bytes else 0.0
        return acc.get(kind, 0)

    metrics: dict[str, float] = {}
    start = [s for s in spans if s["name"] == "session.get_spark"]
    metrics["session.start_s"] = dur(start[0]) if start else 0.0
    for name, (key, kind) in PLAN_METRICS.items():
        if kind in ("time", "self", "exec_cpu_s", "core_util"):
            metrics[name] = statistics.median(per_iter(key, kind, r["i"]) for r in traced)
        else:
            metrics[name] = per_iter(key, kind, count_it)
    metrics["queries.resident_bytes"] = max(r["resident"] for r in traced)
    metrics["trace.overhead_s"] = statistics.median(r["wall"] for r in traced) - statistics.median(
        r["wall"] for r in untraced
    )

    # nesting sanity: a child's span lies inside its parent's
    bad = sum(
        1
        for sp in spans
        if "t1" in sp
        and sp["parent"] is not None
        and not (spans[sp["parent"]]["t0"] <= sp["t0"] <= sp["t1"] <= spans[sp["parent"]]["t1"])
    )
    metrics["trace.nesting_errors"] = bad

    counts = {}
    for key in ("runtime", "sources", "quality", "sinks", "verify", "queries", "streaming"):
        acc: dict = {}
        for s in top(key, count_it):
            for f, v in inclusive(s).items():
                acc[f] = acc.get(f, 0) + v
        for f in REPEAT_FIELDS:
            counts[f"{key}.{f}"] = acc.get(f, 0)
    return metrics, counts
