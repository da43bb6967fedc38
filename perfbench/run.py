"""kolang_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench/``, starts a fresh worker process on a
host-sized ``local[N]`` session with its own TMPDIR and
SPARK_LOCAL_DIRS, checks every query's output against its DuckDB
oracle, removes its scratch directories and prints the metrics, the
last line as one JSON object. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` repeats the run with spans, plan counts and the
Spark event log and reports the per-layer metrics, per workload on the
last line and per query (``<workload>/<query>/<metric>``) above it.
The full record of each run, keyed by query name, is written to
``.perfbench/results/``. ``--smoke`` runs every workload once on tiny
inputs and fails unless every metric is emitted.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen
import metrics
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # set-ups per run; setup_s is their median
RUN_LIMIT_S = 170  # a run, worker and clean-up included, ends within this


def _group_alive(pgid: int) -> list:
    """Live (non-zombie) processes of a process group."""
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def _stop_group(pgid: int) -> None:
    """Stop the worker's JVM and Python workers and wait until they end."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while _group_alive(pgid) and time.time() < end:
            time.sleep(0.1)
    if _group_alive(pgid):
        raise RuntimeError(f"worker process group {pgid} did not stop")


def run_worker(root: str, workload, seed: int, seconds: int, trace: bool, setups=SETUPS):
    """Generate inputs, run one worker and return ``(result, pass_rows, input_stats)``."""
    t_start = time.time()
    work = os.path.join(root, ".perfbench", f"work-{workload.name}-{seed}-{trace:d}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("inputs", "tmp", "local", "events")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        stats = datagen.generate(dirs["inputs"], workload.sf, workload.copies, seed)
        pass_rows = sum(stats[t][0] for t in workload.tables)
        cfg_path, result_path = os.path.join(work, "cfg.json"), os.path.join(work, "result.json")
        cfg = {
            "workload": workload.name,
            "seconds": seconds,
            "trace": trace,
            "setups": setups,
            "root": root,
            "work_dir": work,
            "input_dir": dirs["inputs"],
            "event_dir": dirs["events"],
        }
        env = dict(
            os.environ,
            PYTHONPATH=root,
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            PYSPARK_PYTHON=sys.executable,
            PYTHONHASHSEED="0",  # the same string-set order, so the same plans, in every run
        )
        log_path = os.path.join(work, "worker.log")
        cfg["spawn_time"] = time.time()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path, result_path],
                cwd=work,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc.pid)
                proc.wait()
        if code != 0:
            with open(log_path) as f:
                tail = f.read()[-4000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise RuntimeError(f"worker {why}; log tail:\n{tail}")
        with open(result_path) as f:
            result = json.load(f)
        if trace:  # reduce while the event log still exists
            result["layers"] = metrics.per_layer(result, workload.queries)
        return result, pass_rows, stats
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tally(result: dict, queries: tuple) -> tuple:
    """``(attempted, failed, correct)``. An execution fails when it raised
    or its query's output failed the oracle check."""
    execs = result["execs"]
    attempted = len(execs) + len(result["setup_s"]) * len(queries)  # timed plus warm-up
    failed = result["warmup_failed"]
    for q in queries:
        mine = [e for e in execs if e["query"] == q]
        if result["checks"].get(q) != "ok":
            failed += len(mine)
        else:
            failed += sum(e["t"] is None for e in mine)
    return attempted, failed, failed == 0


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload, tiny inputs, one pass, traced")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    missing = [
        p for p in ("__spark_entry__.py", "kolang_spark", os.path.join("tests", "oracle.py"))
        if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        print(f"run from the repository root: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(root, args.seed)
    if args.workload is None:
        ap.error("--workload is required")
    w = WORKLOADS[args.workload]
    trace = bool(args.trace)
    result, pass_rows, stats = run_worker(root, w, args.seed, args.seconds, trace)
    attempted, failed, correct = tally(result, w.queries)
    e2e = metrics.end_to_end(result, pass_rows)
    n_exec = len(metrics.timed_execs(result))

    print(f"workload {w.name}: seed {args.seed}, {len(result['passes_s'])} timed passes, "
          f"{n_exec} timed query executions, input {pass_rows} rows / "
          f"{sum(stats[t][1] for t in w.tables)} bytes per pass")
    print(f"setups_s {[round(s, 3) for s in result['setup_s']]} (first from process start)")
    print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted} executions)")
    for q, msg in result["checks"].items():
        if msg != "ok":
            print(f"check failed {w.name}/{q}: {msg.strip()[:400]}")
    for q, tb in result["errors"].items():
        print(f"raised {w.name}/{q}: {tb.strip().splitlines()[-1]}")
    for name, unit in metrics.END_TO_END.items():
        print(f"{w.name} {name} {_fmt(e2e[name])} {unit}")
    record = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "input": {t: {"rows": r, "bytes": b} for t, (r, b) in stats.items()},
        "pass_rows": pass_rows,
        "end_to_end": e2e,
        "attempted": attempted,
        "failed": failed,
        "errors": result["errors"],
        "setup_s": result["setup_s"],
        "passes_s": result["passes_s"],
        "queries": {
            q: {
                "check": result["checks"][q],
                "query_s": [e["t"][2] - e["t"][0] for e in result["execs"] if e["query"] == q and e["t"]],
            }
            for q in w.queries
        },
    }
    if trace:
        total, per_query = result["layers"]
        for q, pq in per_query.items():
            record["queries"][q]["layers"] = pq
            for name, unit in metrics.PER_LAYER.items():
                print(f"{w.name}/{q}/{name} {_fmt(pq[name])} {unit}")
        record["layers"] = total
        out = {k: {"value": total[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
        _print_overhead(root, w.name, args.seed, e2e)
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in metrics.END_TO_END.items()}
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    tag = os.path.join(results, f"{w.name}-seed{args.seed}-trace{int(trace)}")
    with open(tag + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if trace:
        with open(tag + ".spans.json", "w") as f:
            json.dump(result["spans"], f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def _print_overhead(root: str, workload: str, seed: int, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end metrics minus those
    of the untraced run of the same workload and seed, when there is one."""
    path = os.path.join(root, ".perfbench", "results", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        print("tracing overhead: no untraced run of this workload and seed to compare with")
        return
    with open(path) as f:
        plain = json.load(f)["end_to_end"]
    for name, unit in metrics.END_TO_END.items():
        if name in plain:  # a record written by an older benchmark may lack it
            print(f"tracing overhead {workload} {name} {_fmt(traced[name] - plain[name])} {unit}")


def smoke(root: str, seed: int) -> int:
    """Every workload at sf 0.001, one set-up, one pass, traced: every
    metric must come out finite and the event log must hold jobs."""
    bad = []
    for w in WORKLOADS.values():
        tiny = dataclasses.replace(w, sf=0.001, copies=1)
        result, pass_rows, _ = run_worker(root, tiny, seed, 0, True, setups=1)
        attempted, failed, correct = tally(result, w.queries)
        e2e = metrics.end_to_end(result, pass_rows)
        total, per_query = result["layers"]
        for name, unit in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
            v = e2e.get(name, total.get(name))
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                bad.append(f"{w.name}/{name} = {v!r}")
                continue
            print(f"smoke {w.name} {name} {_fmt(v)} {unit}")
        if total["spark.jobs"] == 0:
            bad.append(f"{w.name}: no jobs read from the event log")
        if set(per_query) != set(w.queries):
            bad.append(f"{w.name}: no layer record for {sorted(set(w.queries) - set(per_query))}")
        print(f"smoke {w.name} failed_ratio {failed / attempted:.4f}")
    for b in bad:
        print(f"smoke FAILED {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
