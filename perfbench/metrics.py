"""Reduce a worker's result to end-to-end and per-layer metrics.

Per-layer values are per query execution. A query's value is the median
over its timed executions; a workload's value is the sum over its
queries, that is, the cost of one pass. ``spark.cpu_ratio`` is recomputed
from the summed CPU and run times.
"""

from __future__ import annotations

import bisect
import os
import statistics

from eventlog import EventLog
from tracing import LAYERS

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "query_s.gmean": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {"query.build_s": "s", "query.action_s": "s"}
for _layer in LAYERS:
    PER_LAYER.update(
        {f"{_layer}.call_s": "s", f"{_layer}.calls": "count", f"{_layer}.call_jobs": "count"}
    )
PER_LAYER.update(
    {
        "utils.checkpoint_s": "s",
        "utils.checkpoints": "count",
        "utils.observe_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.stages_skipped": "count",
        "spark.tasks": "count",
        "spark.tasks_failed": "count",
        "spark.task_wait_s": "s",
        "spark.driver_gap_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.cpu_ratio": "ratio",
        "spark.gc_s": "s",
        "spark.input_records": "count",
        "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.output_bytes": "bytes",
        "python.run_s": "s",
        "python.start_s": "s",
        "python.bytes_sent": "bytes",
        "plan.python_eval_nodes": "count",
        "plan.codegen_fallback_exprs": "count",
        "plan.exchanges": "count",
    }
)

_CHECKPOINTS = ("kolang_spark.utils.iter_checkpoint", "kolang_spark.utils.tracked_local_checkpoint")
_OBSERVE = "kolang_spark.utils.observation_value"


def timed_execs(result: dict) -> list:
    return [e for e in result["execs"] if e["t"] is not None]


def end_to_end(result: dict, pass_rows: int) -> dict:
    # The geometric mean over queries of each query's median execution
    # time, so that every query's relative change counts alike. A median
    # over queries would follow one query, and on a shared host the
    # median query (label propagation on incremental) spread twice as
    # much from run to run as the others.
    per_query: dict = {}
    for e in timed_execs(result):
        per_query.setdefault(e["query"], []).append(e["t"][2] - e["t"][0])
    return {
        "setup_s": statistics.median(result["setup_s"]),
        "rows_per_s": pass_rows / statistics.median(result["passes_s"]),
        "query_s.gmean": statistics.geometric_mean([statistics.median(v) for v in per_query.values()]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def _span_metrics(spans: list, starts: list, t0: float, t2: float, job_submits: list) -> dict:
    m = {}
    lo, hi = bisect.bisect_left(starts, t0), bisect.bisect_right(starts, t2)
    inside = [s for s in spans[lo:hi] if s["end"] <= t2]
    for layer in LAYERS:
        mine = [s for s in inside if s["layer"] == layer]
        m[f"{layer}.call_s"] = sum(s["self_s"] for s in mine)
        m[f"{layer}.calls"] = len(mine)
        m[f"{layer}.call_jobs"] = 0
    m["utils.checkpoint_s"] = sum(s["self_s"] for s in inside if s["name"] in _CHECKPOINTS)
    m["utils.checkpoints"] = sum(s["name"] in _CHECKPOINTS for s in inside)
    m["utils.observe_s"] = sum(s["self_s"] for s in inside if s["name"] == _OBSERVE)
    # a job belongs to the innermost span open when it was submitted
    for sub in job_submits:
        if not (int(t0 * 1000) <= sub <= t2 * 1000):
            continue
        owner = max(
            (s for s in inside if int(s["start"] * 1000) <= sub <= s["end"] * 1000),
            key=lambda s: s["start"],
            default=None,
        )
        if owner is not None and owner["layer"] in LAYERS:
            m[f"{owner['layer']}.call_jobs"] += 1
    return m


def per_layer(result: dict, queries: tuple) -> tuple:
    """``(workload metrics, {query: metrics})`` for a traced run."""
    execs = timed_execs(result)
    logs = {a: EventLog(os.path.join(result["event_dir"], a)) for a in {e["app"] for e in execs}}
    job_submits = {a: log.job_submits() for a, log in logs.items()}
    spans = sorted(result["spans"], key=lambda s: s["start"])
    starts = [s["start"] for s in spans]
    samples: dict = {q: [] for q in queries}
    for e in execs:
        t0, t1, t2 = e["t"]
        m = {"query.build_s": t1 - t0, "query.action_s": t2 - t1}
        m.update(_span_metrics(spans, starts, t0, t2, job_submits[e["app"]]))
        m.update(logs[e["app"]].window(t0, t2))
        samples[e["query"]].append(m)
    per_query = {}
    for q in queries:
        if not samples[q]:
            continue
        pq = {k: statistics.median(s[k] for s in samples[q]) for k in samples[q][0]}
        pq.update(result["plan"].get(q, {}))
        pq["spark.cpu_ratio"] = _ratio(pq)
        per_query[q] = pq
    total = {k: sum(pq.get(k, 0) for pq in per_query.values()) for k in PER_LAYER}
    total["spark.cpu_ratio"] = _ratio(total)
    return total, per_query


def _ratio(m: dict) -> float:
    run = m["spark.executor_run_s"]
    return m["spark.executor_cpu_s"] / run if run else 0.0
