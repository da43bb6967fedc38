"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with a JSON config path and a result path. It sets
up several times (the first time from process start, then by restarting
the Spark session in the same JVM with the package imported afresh),
runs closed-loop timed passes after each restart until their seconds
add up to the run's time, then checks every query's output against its
DuckDB oracle outside every timed interval. With tracing on it also
records spans, per-query plan counts and Spark's event log, and reduces
them to per-layer metrics.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import re
import sys
import time
import traceback

from workloads import WORKLOADS

_PLAN_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_FALLBACK = "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"


def _host_session_conf(work_dir: str, core_share: float) -> dict:
    cores = max(1, int(len(os.sched_getaffinity(0)) * core_share))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of host RAM, at most 2 GB: the host is shared with other
    # runs. The heap is fixed and touched up front so that the JVM's
    # resident size does not follow the collector's sizing decisions and
    # peak RSS reads the memory a run needs beyond its heap.
    heap_mb = max(1024, min(2048, mem_kb // 8192))
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }


def _event_log_conf(log_dir: str) -> dict:
    # Spark 4.1 defaults to zstd-compressed rolling logs; the reader
    # wants one plain JSON file per application
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _start_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("kolang-perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _purge_package() -> None:
    for name in list(sys.modules):
        if name in ("kolang_spark", "__spark_entry__") or name.startswith("kolang_spark."):
            del sys.modules[name]


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(next(line for line in f if line.startswith("VmHWM")).split()[1])


class Runner:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = WORKLOADS[cfg["workload"]]
        self.tracer = None
        if cfg["trace"]:
            from tracing import Tracer

            self.tracer = Tracer()
        self.conf = _host_session_conf(cfg["work_dir"], self.workload.core_share)
        if cfg["trace"]:
            self.conf.update(_event_log_conf(cfg["event_dir"]))
        self.execs: list = []  # timed executions
        self.errors: dict = {}  # query -> first error
        self.last_df: dict = {}
        self.warm_failed = 0

    def set_up(self) -> None:
        if self.tracer is not None:
            self.tracer.install()
        self.spark = _start_session(self.conf)
        entry = importlib.import_module("__spark_entry__")
        registry = entry.queries()
        self.fns = {q: registry[q] for q in self.workload.queries}
        self.oracle_sql = entry.oracle_sql()
        for q in self.workload.queries:  # untimed warm-up pass
            if self.execute(q, "warmup") is None:
                self.warm_failed += 1

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def execute(self, q: str, tag: str):
        """Build one query and write it to the noop sink; returns
        ``(t0, t1, t2)`` (call, action start, end) or None if it raised."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(f"{self.workload.name}/{q}/{tag}", q)
        try:
            with self.span(q, "query.build"):
                t0 = time.time()
                df = self.fns[q](self.spark, self.cfg["input_dir"])
                t1 = time.time()
            with self.span(q, "query.action"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception:
            self.errors.setdefault(q, traceback.format_exc(limit=3))
            return None
        self.last_df[q] = df
        return t0, t1, t2

    def timed(self, passes: list, until_s: float) -> None:
        """Run timed passes, appending their seconds to ``passes``, until
        the passes of the run add up to about ``until_s`` seconds (the
        pass boundary nearest to it, and at least one pass)."""
        while True:
            p0 = time.time()
            for q in self.workload.queries:
                t = self.execute(q, f"pass{len(passes)}")
                # each session writes its own event log, named by its application id
                self.execs.append({"query": q, "app": self.spark.sparkContext.applicationId, "t": t})
            passes.append(time.time() - p0)
            if sum(passes) + passes[-1] / 2 >= until_s:
                return

    def check(self) -> dict:
        sys.path.insert(0, os.path.join(self.cfg["root"], "tests"))
        import oracle

        out = {}
        for q in self.workload.queries:
            if q not in self.last_df:
                out[q] = "no output: " + self.errors.get(q, "never ran").strip().splitlines()[-1]
                continue
            try:
                ok, msg = oracle.compare(self.last_df[q], self.oracle_sql[q], self.cfg["input_dir"])
            except Exception:
                ok, msg = False, traceback.format_exc(limit=3)
            out[q] = "ok" if ok else msg
        return out

    def plan_counts(self) -> dict:
        """Node counts of each query's physical plan, from its explain
        text, and the number of interpreted (CodegenFallback) expressions
        in it, from the plan's JSON tree."""
        from kolang_spark.plans import audit
        from py4j.protocol import Py4JError

        jvm = self.spark._jvm
        fallback = jvm.java.lang.Class.forName(_FALLBACK)
        is_fallback: dict = {}
        out = {}
        for q, df in self.last_df.items():
            phys = audit.explain_str(df, "simple").split("== Physical Plan ==")[-1]
            nodes = [m.group(1) for m in map(_PLAN_NODE.match, phys.splitlines()) if m]
            classes = _json_classes(json.loads(df._jdf.queryExecution().sparkPlan().toJSON()))
            for c in set(classes) - set(is_fallback):
                try:
                    is_fallback[c] = fallback.isAssignableFrom(jvm.java.lang.Class.forName(c))
                except Py4JError:  # not loadable by name: not an expression class
                    is_fallback[c] = False
            out[q] = {
                "plan.python_eval_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in nodes),
                "plan.exchanges": sum(n.endswith("Exchange") and n != "ReusedExchange" for n in nodes),
                "plan.codegen_fallback_exprs": sum(is_fallback[c] for c in classes),
            }
        return out


def _json_classes(tree) -> list:
    """The ``class`` of every node in a TreeNode JSON dump, expressions included."""
    out, todo = [], [tree]
    while todo:
        o = todo.pop()
        if isinstance(o, dict):
            if isinstance(o.get("class"), str):
                out.append(o["class"])
            todo.extend(o.values())
        elif isinstance(o, list):
            todo.extend(o)
    return out


def main(cfg_path: str, result_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    r = Runner(cfg)
    setups, passes = [], []
    r.set_up()
    setups.append(time.time() - cfg["spawn_time"])
    # The timed passes are split into blocks, one after each set-up but
    # the first, so that they sample the shared host over most of the
    # run and not over one stretch of it.
    blocks = max(1, cfg["setups"] - 1)
    for i in range(cfg["setups"] - 1):
        t0 = time.time()
        r.spark.stop()
        _purge_package()
        r.set_up()
        setups.append(time.time() - t0)
        r.timed(passes, cfg["seconds"] * (i + 1) / blocks)
    if not passes:
        r.timed(passes, cfg["seconds"])
    jvm_pid = r.spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024
    checks = r.check()
    result = {
        "setup_s": setups,
        "passes_s": passes,
        "peak_rss_mb": peak_rss_mb,
        "checks": checks,
        "errors": r.errors,
        "warmup_failed": r.warm_failed,
        "execs": r.execs,
    }
    if r.tracer is not None:
        result["plan"] = r.plan_counts()
        r.spark.stop()
        result["event_dir"] = cfg["event_dir"]
        result["spans"] = r.tracer.export()
    else:
        r.spark.stop()
    with open(result_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
