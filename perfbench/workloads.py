"""The benchmark's workloads: which registry queries run, on what input.

Each workload is a closed loop with one client: one query at a time,
each forced through the ``noop`` sink, passes repeated until the run's
time is up. The query lists are cut so that a pass takes 2.5-5 s on a
4-core host: a run, with its three set-ups (each with a warm-up pass),
four to nine timed passes and the output check, then takes about a
minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of one copy of the input (0.1 = 600k lineitem)
    copies: int  # disjoint-key copies of the input
    tables: tuple  # the inputs its queries read; their rows make one pass's input
    queries: tuple
    core_share: float = 1.0  # share of the host's cores that run tasks: local[nproc * share]


WORKLOADS = {
    w.name: w
    for w in (
        # Data-bound: executor scan, codegen and shuffle work outweighs the
        # fixed cost per job, so an executor-side win shows here and a
        # call-time or job-count change should read flat. Two disjoint-key
        # copies of an sf 0.05 base: 600k lineitem rows.
        Workload(
            name="analytics",
            sf=0.05,
            copies=2,
            tables=("lineitem", "orders", "customer", "supplier", "nation", "region"),
            queries=(
                "join_revenue_by_nation",
                "correlation_lineitem",
                "cumulative_revenue_by_shipdate",
            ),
        ),
        # Call-time bound: many small jobs per query, almost all of them
        # run while the operator is called, so job fusion, checkpoint,
        # write-path and call-time fit changes show and a kernel win reads
        # flat. Label propagation iterates with checkpoints; the streaming funnel
        # writes micro-batches through FlatMapGroupsInPandasWithState; the
        # BPE query fits its merges at call time (the llm layer). Its work
        # runs mostly on the driver, so tasks get half the cores and the
        # driver, the JVM's compiler threads and the Python workers the
        # rest: on a shared 4-vCPU host local[2] ran it 10-25% faster than
        # local[4], with less spread from run to run.
        Workload(
            name="incremental",
            sf=0.01,
            copies=1,
            tables=("lineitem", "orders", "events", "documents"),
            queries=(
                "label_propagation_purchases",
                "funnel_stream_batch",
                "bpe_encode_documents",
            ),
            core_share=0.5,
        ),
    )
}
