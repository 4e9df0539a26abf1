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
It can only force runtime confs.  Static confs such as the codegen
cache size (``CODEGEN_CACHE_MAX_ENTRIES``) take effect only on a
session ``get_spark`` builds; a session built elsewhere keeps its own.

JVM start-up.  When ``get_spark`` launches the driver JVM, it starts it
from a static AppCDS archive (``cds.py``) that maps the ~16.5k classes
start-up would otherwise load and verify from the Spark jars.  The
archive is used when it exists for the current JDK, jar set and class
list, and the configured Spark conf directory holds only ``*.template``
files: ``SPARK_CONF_DIR`` then points at an empty engine-owned directory
for the launch only (the JVM refuses an archive when a non-empty
directory is on the classpath) and is restored afterwards, and
``spark.driver.defaultJavaOptions`` carries ``-XX:SharedArchiveFile``
with CDS messages routed to stderr.  When the archive is missing, the
session starts exactly as without one and ``get_spark`` starts one
detached, niced builder that dumps it (about a minute of one core) for the
sessions after.  A real ``spark-defaults.conf`` or log4j config in the
conf directory turns the archive off rather than dropping it, and an
archive the JVM rejects only costs the unshared start-up.

Out of reach: a session the driver builds (its JVM is already running),
and executors.  On a cluster the same archive, dumped against the
executors' classpath, would go through
``spark.executor.defaultJavaOptions``; local mode has no executor JVMs.

Python workers.  Spark starts each Python worker daemon with
``$SPARK_HOME/python/lib``'s ``pyspark.zip`` (source only, no bytecode)
and py4j zip and the ``spark-core`` jar first on its path, so every
daemon compiles pyspark from source and every task re-reads those
archives' directories.  ``get_spark`` sets ``spark.python.daemon.module``
to ``pydaemon``, which drops those entries before importing pyspark when
the interpreter's own pyspark is the same release (its
``pyspark/version.py`` is byte-identical to the zip's) and py4j imports
without the zip; otherwise it leaves the path exactly as Spark built it.
Either way the workers are ``pyspark.daemon``'s.  It also sets
``spark.executorEnv.PYTHONPATH`` to this package's parent directory, so
workers import the daemon and the package (Python DataSources, UDFs
defined in it) from any working directory.  Out of reach: Spark's
``PythonPlannerRunner`` (DataSource create and plan-read, UDTF analyze,
write commit) always starts the built-in ``pyspark.daemon``, so those
calls keep the zip's cost; a session the driver builds keeps Spark's
daemon; and executors on a cluster would need the package shipped in
``spark.submit.pyFiles``.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from projectmapreduce_spark import cds

# Runtime-settable confs every query depends on.  Session timezone is a
# runtime conf in Spark, so we can enforce it even on a session we did
# not build (the driver's).  Only runtime confs belong here: setting a
# static one raises CANNOT_MODIFY_STATIC_CONFIG on every query, so
# static confs go on the get_spark builder.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # The fixed-width connector implements DataSourceReader.pushFilters
    # (S25); Spark 4.1 REFUSES to plan a reader that implements the
    # hook while this conf is off (DATA_SOURCE_PUSHDOWN_DISABLED), so
    # it is a session default, not per-query scoping.  It only gates
    # Python-source pushdown — JVM sources and filterless reads plan
    # identically either way.
    "spark.sql.python.filterPushdown.enabled": "true",
}

# The batch shuffle count is not a constant in the table above:
# ensure_session_conf sets it to the session's parallelism
# (``defaultParallelism``, cores×1), one reduce partition per task slot,
# which AQE coalesces per stage.  Streaming state is not sized by this
# count: a stateful operator keeps one state store per shuffle partition,
# AQE never coalesces those, and every micro-batch pays one task per
# store, so the drain harness (streaming.core.run_available_now) sets the
# count for each drain from its input bytes and restores the session's
# value after it.

# Spark's cache of compiled generated classes (the static conf
# spark.sql.codegen.cache.maxEntries, default 100) is an LRU.  One run of
# the full catalog at sf0.01 in one session compiles 2673 distinct classes
# (scripts/codegen_working_set.py), the 136-query headline alone 1646,
# and even the five olap_sql benchmark queries 112 at sf0.001, so at the
# default every warm pass evicts and recompiles classes it compiled a
# pass earlier.
# The cap holds the measured working set, rounded up to a power of two.
# Static: set when the session is built, so a session built elsewhere
# keeps its own value (ensure_session_conf cannot change it).
CODEGEN_CACHE_MAX_ENTRIES = 4096


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far, one per codegen
    cache miss (Spark's ``CodegenMetrics`` compile counter)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Force the runtime confs this engine's correctness depends on.

    Called at the top of every declared query — the driver may hand us
    a session built with different defaults.  The batch shuffle count
    is the session's parallelism, so a cluster session shuffles into as
    many partitions as it has task slots.
    """
    parallelism = str(spark.sparkContext.defaultParallelism)
    conf = {**_RUNTIME_CONF, "spark.sql.shuffle.partitions": parallelism}
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by driver
            pass
    return spark


# derive_shuffle_partitions: bytes per post-shuffle partition, and the
# ceiling on the count.
TARGET_PARTITION_BYTES = 128 * 1024 * 1024
MAX_PARTITIONS = 200_000


def derive_shuffle_partitions(input_bytes: int, min_partitions: int = 1) -> int:
    """Bytes-based shuffle-partition sizing — the derivation a 100 TB
    deployment uses instead of a pinned constant.

    ``ceil(input_bytes / TARGET_PARTITION_BYTES)`` with a 128 MiB
    target (the same sizing rule as ``spark.sql.files.maxPartitionBytes``
    applies to scans): post-shuffle partitions land near the target
    size, so tasks neither spill (too big) nor drown the scheduler in
    empty tasks (too many).  At 100 TB / 128 MiB ≈ 800k raw partitions
    — clamped by ``MAX_PARTITIONS`` because AQE coalescing works DOWN
    from a high initial count (set
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` to
    this and let AQE coalesce per-stage); ``min_partitions`` floors at
    the cluster's core count so small inputs still use every core.

    Batch shuffles run at the cores floor of this rule (the session's
    ``defaultParallelism``, set by ``ensure_session_conf``), where every
    local tier sits; streaming state partitions are sized per drain by
    this rule (``streaming.core.state_partitions``,
    ``min_partitions=2``).  SCALING.md "Shuffle-partition sizing"
    measures a heavy sf1 query under Spark's default, a pinned 32 and
    the cores count.
    """
    if input_bytes < 0:
        raise ValueError(f"input_bytes must be >= 0, got {input_bytes}")
    raw = -(-input_bytes // TARGET_PARTITION_BYTES)  # ceil div
    return max(min_partitions, min(MAX_PARTITIONS, int(raw)))


def get_spark(
    app_name: str = "projectmapreduce-spark",
    cpus: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.  Shuffle
    partitions are the core count (``ensure_session_conf``) — at 100 TB
    on a real cluster this would be sized to ~128 MB per post-shuffle
    partition (``derive_shuffle_partitions``) and then AQE-coalesced,
    which is why AQE stays on.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Progress bars would fill the driver's captured stdout tail.
        .config("spark.ui.showConsoleProgress", "false")
        # Static.  Per-DataFrame-call Python stack capture for error
        # enrichment costs ~0.5 s on wide plan builds (profiled:
        # _capture_call_site); the engine's own errors carry enough
        # context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # Python workers (module docstring): the package's parent on
        # their path, and a daemon that imports pyspark from the
        # interpreter's install.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config("spark.python.daemon.module", "projectmapreduce_spark.pydaemon")
    )
    # Parallel-process isolation: when $SPARK_GRAFT_SCRATCH redirects
    # io.scratch_path, redirect the managed-table warehouse with it —
    # concurrent harness processes (sweeps, bench, plan reports) would
    # otherwise race on the shared spark-warehouse/ directory.
    if os.environ.get("SPARK_GRAFT_SCRATCH"):
        builder = builder.config(
            "spark.sql.warehouse.dir",
            os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "warehouse"),
        )
    # Only a launch can map the archive; an existing gateway keeps its JVM.
    target = cds.locate(_find_spark_home()) if SparkContext._gateway is None else None
    if target is not None and os.path.isfile(target.archive):
        builder = builder.config("spark.driver.defaultJavaOptions", cds.java_options(target))
        with cds.spark_conf_dir(target.conf_dir):
            spark = builder.getOrCreate()
    else:
        spark = builder.getOrCreate()
        if target is not None:
            cds.start_build(target)
    return ensure_session_conf(spark)
