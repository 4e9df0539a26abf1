"""SparkSession builder with scale-appropriate defaults.

Correctness-critical settings (FIXTURES.md "Notes for test authors"):

- ``spark.sql.session.timeZone=UTC`` so timestamp values hash
  identically to the DuckDB oracle (parquet stores naive/UTC values).
- AQE enabled (Spark 4 default, made explicit) so shuffle partition
  counts, skew splits, and dynamic broadcast decisions are runtime-
  adaptive — the same plan that runs on local[32] re-plans itself on a
  1000-executor cluster.

``ensure_session_conf`` is applied by every declared query because the
driver owns the SparkSession; we must not assume it was built here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every query depends on.  Session timezone is a
# runtime conf in Spark, so we can enforce it even on a session we did
# not build (the driver's).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # Per-DataFrame-call Python stack capture for error enrichment costs
    # ~0.5 s on wide plan builds (profiled: _capture_call_site); the
    # engine's own errors carry enough context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The fixed-width connector implements DataSourceReader.pushFilters
    # (S25); Spark 4.1 REFUSES to plan a reader that implements the
    # hook while this conf is off (DATA_SOURCE_PUSHDOWN_DISABLED), so
    # it is a session default, not per-query scoping.  It only gates
    # Python-source pushdown — JVM sources and filterless reads plan
    # identically either way.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Sizes batch shuffles only; AQE coalesces them per stage.  Streaming
    # state is NOT sized by this pin: a stateful operator keeps one state
    # store per shuffle partition, AQE never coalesces those, and every
    # micro-batch pays one task per store, so the drain harness
    # (streaming.core.run_available_now) sets the count for each drain
    # from its input bytes and restores this value after it.
    "spark.sql.shuffle.partitions": "32",
}


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Force the runtime confs this engine's correctness depends on.

    Called at the top of every declared query — the driver may hand us
    a session built with different defaults.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by driver
            pass
    return spark


def derive_shuffle_partitions(
    input_bytes: int,
    target_partition_bytes: int = 128 * 1024 * 1024,
    min_partitions: int = 1,
    max_partitions: int = 200_000,
) -> int:
    """Bytes-based shuffle-partition sizing — the derivation a 100 TB
    deployment uses instead of a pinned constant.

    ``ceil(input_bytes / target)`` with a 128 MiB default target (the
    same sizing rule as ``spark.sql.files.maxPartitionBytes`` applies
    to scans): post-shuffle partitions land near the target size, so
    tasks neither spill (too big) nor drown the scheduler in empty
    tasks (too many).  At 100 TB / 128 MiB ≈ 800k raw partitions —
    clamped by ``max_partitions`` because AQE coalescing works DOWN
    from a high initial count (set
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` to
    this and let AQE coalesce per-stage); ``min_partitions`` floors at
    the cluster's core count so small inputs still use every core.

    The local tiers pin shuffle=32 (cores×1) for BATCH shuffles only;
    streaming state partitions are sized per drain by this rule
    (``streaming.core.state_partitions``, ``min_partitions=2``), never
    by the pin.  SCALING.md "Shuffle-partition sizing" measures a heavy
    sf1 query under the pinned vs derived counts.
    """
    if input_bytes < 0:
        raise ValueError(f"input_bytes must be >= 0, got {input_bytes}")
    raw = -(-input_bytes // target_partition_bytes)  # ceil div
    return max(min_partitions, min(max_partitions, int(raw)))


def scan_size_bytes(spark: SparkSession, paths: list[str]) -> int:
    """Total on-disk size of the inputs a job will shuffle — the
    ``input_bytes`` feed for ``derive_shuffle_partitions``.  Summed
    driver-side over the listed roots via the shared
    ``io.hadoop_fs`` accessor (any supported filesystem scheme)."""
    from projectmapreduce_spark.io import hadoop_fs

    total = 0
    for p in paths:
        fs, jpath = hadoop_fs(spark, p)
        if fs.exists(jpath):
            total += fs.getContentSummary(jpath).getLength()
    return total


def get_spark(
    app_name: str = "projectmapreduce-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.  Shuffle
    partitions default to the core count — at 100 TB on a real cluster
    this would be sized to ~128 MB per post-shuffle partition and then
    AQE-coalesced, which is why AQE stays on.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Progress bars would fill the driver's captured stdout tail.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        builder = builder.config("spark.sql.shuffle.partitions", "32")
    # Parallel-process isolation: when $SPARK_GRAFT_SCRATCH redirects
    # io.scratch_path, redirect the managed-table warehouse with it —
    # concurrent harness processes (sweeps, bench, plan reports) would
    # otherwise race on the shared spark-warehouse/ directory.
    if os.environ.get("SPARK_GRAFT_SCRATCH"):
        builder = builder.config(
            "spark.sql.warehouse.dir",
            os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "warehouse"),
        )
    spark = builder.getOrCreate()
    return ensure_session_conf(spark)
