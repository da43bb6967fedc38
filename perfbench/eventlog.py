"""Read a Spark JSON event log (uncompressed, non-rolling) into job,
stage and task records, and sum them over a wall-clock window.

Every query execution runs alone, so the jobs submitted inside its
window are its jobs, streaming micro-batch jobs (which carry their own
job group) included.
"""

from __future__ import annotations

import json

# SQL metrics of the Python worker boundary (MapInPandas,
# FlatMapGroupsInPandasWithState and the other Arrow/pandas nodes)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict = {}  # id -> {"submit", "end", "stages"}
        self.stage_submit: dict = {}  # (stage, attempt) -> ms
        self.tasks: list = []  # (stage, launch_ms, failed, metrics, accums)
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            self.stage_submit[(si["Stage ID"], si["Stage Attempt ID"])] = si.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            if self.stage_submit.get(key) is None:
                self.stage_submit[key] = si.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            accums = {}
            for a in info.get("Accumulables", ()):
                try:  # SQL metrics log their updates as strings
                    v = int(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                accums[a.get("Name")] = accums.get(a.get("Name"), 0) + v
            self.tasks.append(
                (
                    (e["Stage ID"], e["Stage Attempt ID"]),
                    info["Launch Time"],
                    info["Failed"] or e["Task End Reason"]["Reason"] != "Success",
                    e.get("Task Metrics") or {},
                    accums,
                )
            )

    def window(self, t0: float, t1: float) -> dict:
        """Spark and Python-boundary metrics of the jobs submitted between
        ``t0`` and ``t1`` (epoch seconds)."""
        lo, hi = int(t0 * 1000), t1 * 1000
        jobs = [j for j in self.jobs.values() if lo <= j["submit"] <= hi]
        stage_ids = {s for j in jobs for s in j["stages"]}
        submitted = {k for k in self.stage_submit if k[0] in stage_ids}
        m = dict.fromkeys(
            (
                "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
                "spark.tasks_failed", "spark.task_wait_s", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.gc_s", "spark.input_records", "spark.input_bytes",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes", "spark.output_bytes", "python.run_s",
                "python.start_s", "python.bytes_sent",
            ),
            0,
        )
        m["spark.jobs"] = len(jobs)
        m["spark.stages"] = len(submitted)
        m["spark.stages_skipped"] = len(stage_ids - {k[0] for k in submitted})
        for stage, launch, failed, tm, acc in self.tasks:
            if stage not in submitted:
                continue
            m["spark.tasks"] += 1
            m["spark.tasks_failed"] += bool(failed)
            sub = self.stage_submit.get(stage)
            if sub is not None:
                m["spark.task_wait_s"] += max(0, launch - sub) / 1e3
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            m["spark.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["spark.output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            m["python.run_s"] += acc.get(PY_RUN, 0) / 1e3
            m["python.start_s"] += acc.get(PY_START, 0) / 1e3
            m["python.bytes_sent"] += acc.get(PY_SENT, 0)
        # wall time of the window with no job of it running
        busy, cursor = 0.0, lo
        for s, e in sorted((j["submit"], j["end"] or hi) for j in jobs):
            s, e = max(s, cursor), min(e, hi)
            if e > s:
                busy += e - s
                cursor = e
        m["spark.driver_gap_s"] = max(0.0, (hi - lo) - busy) / 1e3
        return m

    def job_submits(self) -> list:
        return sorted(j["submit"] for j in self.jobs.values())
