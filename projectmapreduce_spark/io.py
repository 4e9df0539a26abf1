"""Sources & sinks (SURVEY.md §2.1, S1–S6).

Scan path design for 100 TB: all scans are declarative
``spark.read.<fmt>`` calls so Catalyst pushes predicates and prunes
columns down to the parquet row-group level (verify with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).  Sinks write
parquet — optionally hive-partitioned (S6) so downstream readers get
partition pruning for free.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# All driver-provided tables (TESTDATA.md + FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins:
# at any scale factor these stay tiny relative to the facts
# (region=5, nation=25 rows at every sf; supplier/part grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")

# One canonical scratch dir for every query that persists local state
# (io roundtrips, incremental-agg state tables, streaming checkpoints).
# A single convention means two queries can never silently collide on
# ad-hoc paths, and cleanup is one rmtree.
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scratch_path(name: str) -> str:
    """Return ``<scratch_root>/<name>``, creating the scratch root.

    The root defaults to ``<repo>/.scratch`` and can be redirected with
    ``$SPARK_GRAFT_SCRATCH`` (read per call, not at import).  The
    override exists because scratch names are FIXED per query — one
    process re-running a query overwrites its own path safely, but two
    CONCURRENT sweeps (e.g. two driver_sim tiers in parallel) would
    race on the same ``_temporary`` dirs and fail or cross-read;
    pointing each sweep at its own root makes parallel sweeps safe."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH", _SCRATCH)
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, name)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — the one
    py4j filesystem-access idiom, shared by every helper that needs it
    (works for any supported scheme, not just local files)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def has_committed_files(spark: SparkSession, path: str) -> bool:
    """True if ``path`` contains at least one COMMITTED data file — a
    file none of whose path segments under ``path`` starts with ``.``
    or ``_``.  A directory holding only committer debris
    (``.spark-staging-*``, ``_temporary``) after a mid-write crash
    exists but has no committed data; treating bare existence as
    'table present' would wedge a restarted sink on an unreadable
    path forever."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    root = jpath.toUri().getPath().rstrip("/")
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toUri().getPath()[len(root) :].lstrip("/")
        parts = rel.split("/")
        if parts and not any(seg.startswith((".", "_")) for seg in parts):
            return True
    return False


def scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 — parquet scan of one named table from a scale-factor dir.

    ``events.ts`` must surface as a session-timezone TimestampType (the
    engine contract every events query and its oracle were verified
    against — window math uses ``unix_micros``, which rejects NTZ).
    Fixture generations have stored it two ways, both handled here:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read via
      the nanos-as-long legacy conf and convert with exact integer
      arithmetic (values carry no sub-µs digits, FIXTURES.md).
    - TIMESTAMP(MICROS) ``isAdjustedToUTC=false``: Spark ≥3.4 infers
      TIMESTAMP_NTZ; cast to TimestampType.  With the engine's forced
      UTC session timezone the wall-clock values are bit-identical to
      what DuckDB's naive TIMESTAMP yields, so oracle hashes agree.
    """
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Widen a pathologically narrow input before CPU-heavy per-row work.

    Small fixture files are a single parquet row group → a single scan
    task, which serializes interpreted-expression operators (shingling,
    vector math) on one core.  This helper repartitions ONLY when the
    observed scan parallelism is below ``defaultParallelism × factor``
    — at 100 TB a scan yields thousands of splits and this is a no-op,
    so no shuffle is ever added on the at-scale path.

    Cost contract: ``df.rdd`` materializes the physical plan (no job,
    but non-trivial planning work), so call this once per pipeline on
    the freshly scanned input — never inside an iteration loop
    (iterative ops truncate lineage with localCheckpoint instead; see
    operators/graph.py, operators/dedup.py:connected_components).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def scan_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """S2 — schema-explicit CSV read.

    Schema is always explicit: schema inference is a full extra pass
    over the data — unacceptable at 100 TB.
    """
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def scan_jsonl(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S3 — newline-delimited JSON read (schema-explicit when known)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_text(spark: SparkSession, path: str) -> DataFrame:
    """S4 — one row per line (the MR ``TextInputFormat`` shape)."""
    return spark.read.text(path)


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5 — parquet sink."""
    df.write.mode(mode).parquet(path)


def sink_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """S6 — hive-style partitioned parquet sink.

    At 100 TB, partition columns must be low-cardinality (date, region,
    lang) so files stay >= ~128 MB; high-cardinality partitioning
    produces a small-file explosion.  Callers pick the columns; we keep
    the write declarative so AQE sizes the final files.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched — the
    re-ingest/backfill primitive at 100 TB (rewriting one day or one
    source out of thousands without touching the rest; static overwrite
    mode would wipe the whole dataset).  Conf is scoped to the write
    and restored."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _reset_managed_location(spark: SparkSession, table: str) -> None:
    """Idempotence across SESSIONS: the in-memory catalog dies with the
    session but a managed table's warehouse directory does not, and
    saveAsTable refuses to create over an existing location it has no
    catalog entry for (LOCATION_ALREADY_EXISTS).  Drop any catalog
    entry, then clear the orphaned location if one survives."""
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def sink_managed(df: DataFrame, table: str, mode: str = "overwrite") -> None:
    """Plain managed parquet table (saveAsTable) with the same
    cross-session idempotence as :func:`sink_bucketed` — the persisted
    form ANALYZE TABLE statistics attach to (S22's CBO lane)."""
    _reset_managed_location(df.sparkSession, table)
    df.write.mode(mode).format("parquet").saveAsTable(table)


def sink_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table — the
    pre-partitioning story for repeated co-located joins at 100 TB:
    two tables bucketed on the same key with the same bucket count
    join with NO exchange on either side (asserted in
    tests/test_bucketing.py), and bucket-sorted data upgrades the join
    to a zero-sort merge.  Worth one up-front shuffle when a fact table
    is joined on the same key by many downstream queries.

    The input is repartitioned to ``n_buckets`` on the bucket columns
    before the write (round 12, guide §2.1/§6): bucket id and
    ``repartition``'s HashPartitioning are the same
    ``pmod(murmur3, n)``, so each write task holds exactly one bucket —
    the per-bucket sort+encode runs ``n_buckets``-wide instead of
    single-task, and the file count is exactly ``n_buckets`` instead
    of ``scan_tasks x n_buckets`` (the small-file explosion at scale).
    Bucket layout and data are identical either way — verified by
    per-bucket ``pmod(hash(key), n)`` histograms.
    """
    spark = df.sparkSession
    _reset_managed_location(spark, table)
    w = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def scan_orc(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S9 — ORC read (schema-explicit when known).  ORC is the other
    columnar format Spark ships natively (vectorized reader, predicate
    pushdown, column pruning — same scan properties as parquet), common
    in Hive-heritage warehouses feeding training pipelines."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def sink_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (round-trip support for S9)."""
    df.write.mode(mode).orc(path)


def sink_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (round-trip support for S2)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def sink_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (round-trip support for S3)."""
    df.write.mode(mode).json(path)


def upsert_by_rewrite(base: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """MERGE emulation on plain parquet (no ACID table format):
    updated/new rows win, untouched base rows survive —
    ``updates ∪ (base ⟕anti updates)``.

    At 100 TB you never rewrite the whole table: partition the lake on
    a key-correlated column, semi-join to find the partitions the
    update batch touches, and rewrite ONLY those via
    ``overwrite_partitions`` (S8) — merge cost then tracks the batch,
    not the table.  Delta/Iceberg give the same semantics
    transactionally; this is the engine-level primitive they compile
    to.

    Join strategy (round-5 fix): NO forced ``F.broadcast`` hint.  The
    typical update batch is small, so Catalyst's size estimate (or
    AQE's runtime stats) picks a broadcast anti-join on its own and the
    base table is never shuffled — but a caller handing a base-sized
    batch now gets a sort-merge plan instead of a driver/executor OOM.
    Same defect family as the l2b verification-join fix
    (operators/dedup.py ``arrays_join="auto"``); pinned both ways in
    tests/test_plans.py::test_upsert_join_strategy_follows_size.
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = base.columns
    survivors = base.join(updates.select(*keys), keys, "left_anti")
    return updates.select(*cols).unionByName(survivors)


def build_stats_manifest(root: str, column: str) -> list[dict]:
    """Footer-stats manifest over every parquet leaf file under ``root``:
    one entry per file with (path, min, max, rows) for ``column``, read
    from the parquet FOOTER only — no data pages are touched.  This is
    the data-skipping index Delta/Iceberg persist in their metadata
    layer, reduced to its primitive.

    Scale note: this walks files on the driver because the demo lake is
    a scratch directory; a 100 TB manifest build is itself a Spark job
    (one footer read per task — ``spark.read.format("binaryFile")`` or a
    file-list mapPartitions) whose OUTPUT is this same few-KB-per-1000-
    files structure, and real table formats maintain it incrementally
    at commit time instead of rebuilding.
    """
    entries: list[dict] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".parquet") or f.startswith("_"):
                continue
            path = os.path.join(dirpath, f)
            entries.append(_file_stats_entry(path, column))
    return entries


# Stats value types prune_manifest can compare faithfully against a
# caller's lo/hi.  Binary columns surface bytes and DECIMAL may surface
# UNSCALED ints from the footer — comparing those against logical
# values would skip the wrong files, so such stats are dropped (file
# conservatively kept) rather than trusted.
_COMPARABLE_STATS_TYPES = (int, float, str)


def _file_stats_entry(path: str, column: str) -> dict:
    """(path, min, max, rows) for one parquet file, footer-only.
    Shared by the driver-side walk and the distributed Spark build so
    the two manifests are entry-identical by construction."""
    import datetime

    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}[column]
    ok_types = _COMPARABLE_STATS_TYPES + (datetime.date, datetime.datetime)
    lo = hi = None
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if (
            st is None
            or not st.has_min_max
            or not isinstance(st.min, ok_types)
            or not isinstance(st.max, ok_types)
            # bool is an int subclass but min/max pruning on a bool
            # column is meaningless; drop rather than surprise.
            or isinstance(st.min, bool)
        ):
            # a file without (trustworthy) stats can never be skipped
            lo, hi = None, None
            break
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return {"path": path, "min": lo, "max": hi, "rows": meta.num_rows}


def build_stats_manifest_distributed(
    spark: SparkSession, root: str, column: str
) -> list[dict]:
    """The 100-TB form of :func:`build_stats_manifest`: the footer reads
    run as a SPARK JOB — the file list is parallelized and each task
    reads only parquet footers (no data pages), exactly the shape a
    real lakehouse manifest build has (one metadata read per task; the
    output is the same few-KB-per-1000-files structure Delta/Iceberg
    persist).  Entry-identical to the driver-side walk by construction:
    both call ``_file_stats_entry`` per file (pinned in
    tests/test_new_surfaces.py::test_distributed_manifest_matches_walk).

    mapPartitions over a plain file list, not ``format("binaryFile")``:
    binaryFile would ship the whole file to the executor just to read its
    footer — the opposite of metadata-scale.

    Deployment constraint (ADVICE r7 item 3): the tasks open the
    driver-enumerated paths with local ``open()`` and import this
    package, so executors must SHARE the driver's filesystem view of
    ``root`` (true for local[N], NFS/FUSE-mounted object stores, and
    clusters whose data lives on a shared mount) and have the package
    shipped (``--py-files`` / cluster image).  On executors with no
    shared mount, resolve paths through the Hadoop FS API instead —
    the ``hadoop_fs`` helper above is the entry point; the task body
    would read footers via the FS input stream rather than ``open``.
    """
    paths: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith("_"):
                paths.append(os.path.join(dirpath, f))
    if not paths:
        return []
    sc = spark.sparkContext
    n_slices = min(len(paths), sc.defaultParallelism)

    def _part(it):
        for p in it:
            yield _file_stats_entry(p, column)

    out = sc.parallelize(sorted(paths), n_slices).mapPartitions(_part).collect()
    return sorted(out, key=lambda e: e["path"])


def prune_manifest(manifest: list[dict], lo, hi) -> list[str]:
    """File paths whose [min, max] range can intersect [lo, hi].  Files
    with absent stats are conservatively kept (skipping must never
    change results, only cost).  The manifest builder already dropped
    stats whose footer representation is not the logical value (binary
    bytes, unscaled decimals — see ``_COMPARABLE_STATS_TYPES``), so
    every comparison here is logical-value vs logical-value; callers
    must pass lo/hi in the column's logical type."""
    return [
        e["path"]
        for e in manifest
        if e["min"] is None or e["max"] is None or (e["max"] >= lo and e["min"] <= hi)
    ]


def scd2_apply(history: DataFrame, updates: DataFrame, key: str, eff_date: str) -> DataFrame:
    """Fold one update batch into an SCD Type-2 history (the
    warehouse "track every version with a validity interval" merge):
    open rows (valid_to = HIGH_DATE) of updated keys are CLOSED at
    ``eff_date``, the update rows are appended as the new open
    versions, and everything else passes through untouched.

    ``history`` columns: attributes + (valid_from, valid_to);
    ``updates``: attributes only (one row per changed key).  Cost per
    batch is one key equi-join against the batch (broadcastable when
    the batch is small — the typical case; AQE decides, never a forced
    hint) plus the union — the base history is never shuffled, and it
    is referenced exactly ONCE in the output plan (a semi/anti/filter
    three-way split would re-evaluate the history's lineage per
    branch, which compounds across chained folds — callers folding
    many batches should still checkpoint or persist between folds,
    because each fold's UPDATE derivation may itself read the prior
    history).
    """
    from pyspark.sql import functions as F

    high = F.lit("9999-12-31").cast("date")
    eff = F.lit(eff_date).cast("date")
    # distinct() guards the batch contract (one row per changed key):
    # a duplicated key in ``updates`` would otherwise fan out every
    # existing history row for that key through the left join AND
    # append two open versions — silent history corruption.  The
    # distinct is over the key column only (metadata-scale) and makes
    # the close-out side immune; the append side still reflects the
    # caller's rows, so callers must still dedupe attribute conflicts.
    marked = updates.select(key).distinct().withColumn("_pmr_upd", F.lit(True))
    is_open = F.col("valid_to") == high
    carried = (
        history.join(marked, key, "left")
        .withColumn(
            "valid_to",
            F.when(is_open & F.col("_pmr_upd").isNotNull(), eff).otherwise(
                F.col("valid_to")
            ),
        )
        .drop("_pmr_upd")
    )
    fresh = updates.withColumn("valid_from", eff).withColumn("valid_to", high)
    return carried.unionByName(fresh)
