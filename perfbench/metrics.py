"""Every metric the benchmark prints, with its unit.

``END_TO_END`` come from untraced runs (``--trace 0``); ``PER_LAYER``
from the traced run (``--trace 1``).  BENCHMARK.json lists the same
names; ``tests/test_bench_definition.py`` keeps the two in step.
"""

from __future__ import annotations

import statistics

# Pass 0 is the cold pass.  Pass 1 runs but is not counted as warm: the
# JIT still speeds it up a lot, so counting it would tie the warm figure
# to how many passes fit in a run.
FIRST_WARM_PASS = 2
# Every run counts at least this many warm passes, however slow the host.
MIN_WARM_PASSES = 4


def wall_s(query: dict) -> float:
    return query["build_s"] + query["action_s"]


def cpu_s(query: dict) -> float:
    return query["cpu_s"]


def cold_pass(passes: list[dict], cost=wall_s) -> float:
    return sum(cost(q) for q in passes[0]["queries"])


def warm_pass(passes: list[dict], cost=wall_s) -> float:
    """A warm pass's cost: each query's median over the counted warm
    passes, summed.  A hiccup in one query of one pass (a GC pause, a slow
    checkpoint commit) moves that query's median less than it moves the
    median of the pass totals."""
    warm = passes[FIRST_WARM_PASS:]
    names = [q["query"] for q in warm[0]["queries"]]
    return sum(
        statistics.median(cost(q) for p in warm for q in p["queries"] if q["query"] == name)
        for name in names
    )


# The passes are bounded by the CPU time the engine spends on them: on a
# shared host, minutes of CPU steal nearly double wall time but are not
# charged to the engine.  Their wall times come from the
# traced run (``trace.cold_pass_s``, ``trace.warm_pass_s``).
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
}

# The operator modules some workload calls (olap_sql: rank, through w1 and
# o1; pipeline: dedup, through l2).  A module no workload calls would
# always read 0.
OPERATOR_MODULES = ("dedup", "rank")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_query_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "exec.action_s": "s",
    "exec.cold_minus_warm_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_skew_max_over_median": "ratio",
    "exec.empty_task_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.result_mb": "MB",
    "exec.jvm_peak_rss_mb": "MB",
    "io.s": "s",
    "io.write_s": "s",
    "io.scan_mb": "MB",
    "io.scan_rows": "count",
    "io.write_mb": "MB",
    "io.files_written": "count",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES for k, u in (("s", "s"), ("jobs", "count"))},
    "python.s": "s",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.rows_from_worker": "count",
    "streaming.s": "s",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_max": "ms",
    "streaming.empty_batch_ms": "ms",
    "streaming.ms_per_krow": "ms",
    "streaming.state_partitions": "count",
    "streaming.state_rows": "count",
    "streaming.commit_ms": "ms",
    "trace.cold_pass_s": "s",
    "trace.warm_pass_s": "s",
    "trace.warm_pass_cpu_s": "s",
    "trace.layer_self_sum_s": "s",
}
