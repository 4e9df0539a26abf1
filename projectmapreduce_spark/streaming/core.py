"""Structured Streaming wrappers (SURVEY.md §2.9, streaming forms).

Each §2.9 batch operator gets its exact streaming twin: the same
`groupBy(window/session_window)` / `dropDuplicates` / stream-static
join expression applied to a ``readStream`` DataFrame with an event-
time watermark.  Because the transformations are identical DataFrame
expressions, streaming output over a finite input (``availableNow``
trigger) must equal the batch result — tests/test_streaming.py asserts
exactly that equivalence against the driver fixtures.  The streams
themselves come from ``io.scan_stream``, the batch ``io.scan``'s twin:
one table layout rule, one schema memo and one ``events.ts`` typing
for both.

Scale design: watermarks bound state (late rows beyond the delay are
dropped, closed windows are evicted); `dropDuplicatesWithinWatermark`
keeps only in-horizon keys; the stream-static join broadcasts the
static dim per micro-batch.  On a real cluster add
``spark.sql.streaming.statefulOperator.stateRebalancing.enabled`` and
the RocksDB state store for 100 TB-day topics.  The RocksDB provider
is exercised for real (not just recommended) by
tests/test_streaming.py::test_rocksdb_state_store_restart: a paced
session drain under ``RocksDBStateStoreProvider`` with a mid-stream
kill-and-restart, provider engagement asserted from the rocksdb*
custom metrics and recovered output hash-equal to batch.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from projectmapreduce_spark.io import scan_size_bytes, scratch_path
from projectmapreduce_spark.session import derive_shuffle_partitions


def with_watermark(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """T4 — declare the event-time watermark that bounds all stateful
    operators downstream (late rows beyond ``delay`` are dropped)."""
    return stream.withWatermark("ts", delay)


def tumbling_counts(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """T1 streaming form — same expression as the batch query."""
    return (
        stream.groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(stream: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """T2 streaming form."""
    return (
        stream.groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3 streaming form — native session windows (gap-merged state)."""
    return (
        stream.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """T5 streaming form — state-bounded exact dedup: a key's state is
    dropped once the watermark passes it, so state size tracks the
    watermark horizon, not the stream's lifetime key cardinality."""
    return stream.dropDuplicatesWithinWatermark(keys or ["user_id", "event_type"])


def stream_static_join(stream: DataFrame, static_dim: DataFrame, on_expr) -> DataFrame:
    """T6 — stream⋈static: the static side is (re)broadcast per
    micro-batch; no state is kept for it."""
    return stream.join(F.broadcast(static_dim), on_expr, "inner")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    within: str = "6 hours",
    left_ts: str = "ts",
    right_ts: str = "ts",
    how: str = "inner",
) -> DataFrame:
    """T7 — stream⋈stream interval join: for each left row, the right
    rows with the same ``key`` whose timestamp falls in
    ``[left.ts, left.ts + within]``.

    ``how='leftOuter'`` adds the subtlest Structured Streaming
    semantics: a left row with NO match is emitted null-padded only
    when the watermark passes the end of its interval — i.e. when the
    engine can PROVE no future right row can match — so unmatched
    results trail matched ones by the join horizon.  Over a finite
    replay the final views' horizons never close on their own; callers
    drain through a watermark-flush sentinel
    (``append_watermark_flush_file``) to make the drain exhaustive.

    Both inputs MUST carry event-time watermarks: the time-range
    predicate plus the watermarks is what lets Spark BOUND the join
    state — each side buffers only rows inside the watermark horizon
    (≈ ``within`` + watermark delay), then evicts, so state size tracks
    the time window, not the stream's lifetime.  Without the range
    condition a stream-stream join must keep every row forever — the
    classic unbounded-state trap this operator exists to avoid.

    Inputs are aliased ``l``/``r``; output columns must be selected by
    the caller from those aliases (the key is deduplicated).
    """
    la, ra = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    return la.join(ra, cond, how)


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_ADAPTIVE = "spark.sql.adaptive.enabled"


def run_available_now(
    out: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str = "pmr_stream",
    input_paths: Sequence[str] = (),
    sink: Callable[[DataStreamWriter], DataStreamWriter] | None = None,
) -> None:
    """The one drain harness: run ``out`` to the end of its finite
    source under the availableNow trigger and wait for it.  Results
    land in an in-memory sink, queryable as the ``query_name`` temp
    view, unless ``sink`` configures another sink on the writer
    (foreachBatch, a file or connector format).

    State partitions are sized from the stream's input, not inherited
    from the session's batch shuffle count: a stateful operator keeps
    one state store per shuffle partition, AQE never coalesces them,
    and every micro-batch — even an empty one — pays one task per
    store.  So ``spark.sql.shuffle.partitions`` is set to
    ``state_partitions(input_paths)`` for the drain and the caller's
    value is put back after it, also when the query fails.  A restart
    over an existing checkpoint keeps the count recorded in it (Spark
    restores it from the offset log), whatever is set here.

    ``spark.sql.adaptive.enabled`` is scoped off for the drain the same
    way: streaming plans never run adaptively, and with it on Spark
    logs a ``ResolveWriteToStream`` warning on every drain.  (Spark
    4.1 logs ``MicroBatchExecution: Disabling AQE`` for every stateful
    plan whatever the conf says.)
    """
    spark = out.sparkSession
    prev = {k: spark.conf.get(k) for k in (_SHUFFLE_PARTITIONS, _ADAPTIVE)}
    spark.conf.set(_SHUFFLE_PARTITIONS, str(state_partitions(spark, input_paths)))
    spark.conf.set(_ADAPTIVE, "false")
    try:
        writer = (
            out.writeStream.queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
        )
        writer = sink(writer) if sink else writer.format("memory")
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def state_partitions(spark: SparkSession, input_paths: Sequence[str]) -> int:
    """State-partition count for a drain over ``input_paths``:
    ``derive_shuffle_partitions`` of their on-disk bytes, floored at 2
    so state still spreads over more than one store and core."""
    return derive_shuffle_partitions(
        scan_size_bytes(spark, list(input_paths)), min_partitions=2
    )


def sink_stream_foreach_batch(
    out: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: list[str] | None = None,
    output_mode: str = "append",
    include_batch_id: bool = True,
    input_paths: Sequence[str] = (),
) -> None:
    """T8 — foreachBatch escape hatch: apply an arbitrary BATCH write
    to each micro-batch.  This is how streams reach sinks the
    streaming engine has no native writer for (JDBC, upserts,
    multi-sink fan-out) — and it changes the delivery contract from
    the file sink's exactly-once to AT-LEAST-ONCE: a batch can replay
    after a crash, so the batch write must be IDEMPOTENT.

    The idempotency recipe used here is the standard one: partition
    the output by ``batch_id`` (plus the caller's columns) and
    dynamic-partition-overwrite — a replayed batch rewrites exactly
    its own partitions, so duplicates cannot accumulate.  Drains
    through ``run_available_now`` (state sized from ``input_paths``).

    With ``include_batch_id=False`` the layout is keyed by the
    caller's columns ALONE — usable when each emitted row should
    overwrite exactly its own partition ("latest value per group
    wins"); for group keys finer than a sane partition size, use
    ``sink_stream_merge_upsert`` instead.
    """
    from projectmapreduce_spark.io import overwrite_partitions

    cols = (["batch_id"] if include_batch_id else []) + list(partition_cols or [])
    if not cols:
        # Dynamic-partition-overwrite with NO layout columns degrades
        # to a full-dataset overwrite on every micro-batch — silent
        # destruction of all prior batches.  Refuse the combination.
        raise ValueError(
            "sink_stream_foreach_batch needs at least one layout column: "
            "pass partition_cols and/or include_batch_id=True"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if include_batch_id:
            batch_df = batch_df.withColumn("batch_id", F.lit(batch_id))
        overwrite_partitions(batch_df, path, cols)

    run_available_now(
        out,
        checkpoint_dir,
        output_mode,
        input_paths=input_paths,
        sink=lambda w: w.foreachBatch(write_batch),
    )


def sink_stream_merge_upsert(
    out: "DataFrame",
    path: str,
    checkpoint_dir: str,
    keys: list[str],
    partition_col: str,
    input_paths: Sequence[str] = (),
) -> None:
    """T9s — continuous-aggregate maintenance sink: MERGE each
    update-mode micro-batch's changed group rows into a partitioned
    partials lake.

    Per batch: (1) find the partitions the changed groups touch
    (driver-side collect of DISTINCT partition values — bounded by the
    batch's time horizon, never by stream length), (2) read ONLY those
    partitions back, (3) updates-win anti-join union on the group key
    (``io.upsert_by_rewrite`` — the same primitive S11's batch MERGE
    uses), (4) dynamic-partition-overwrite exactly those partitions.
    The merged frame is localCheckpoint-ed first: the write overwrites
    files its own lineage reads, which Spark (rightly) refuses without
    materialization.

    Idempotence under foreachBatch's at-least-once contract: a
    crash-replayed batch re-emits the same cumulative group state, and
    merging identical rows twice is a no-op.  Cost per batch tracks
    the CHANGED partitions (a watermark-horizon's worth of days), not
    the table — the hypertable maintenance contract at 100 TB-day
    volume.  Drains through ``run_available_now`` (state sized from
    ``input_paths``).
    """
    from projectmapreduce_spark.io import (
        has_committed_files,
        overwrite_partitions,
        upsert_by_rewrite,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        touched = [r[0] for r in batch_df.select(partition_col).distinct().collect()]
        if not touched:
            return
        # First batch is detected by an EXPLICIT committed-data check,
        # not by catching AnalysisException: a broad catch would also
        # swallow schema drift or a corrupt footer on the partials
        # lake and silently overwrite the touched partitions with
        # only this batch's rows.  Bare directory existence is not
        # enough either — a mid-write crash leaves committer debris
        # (.spark-staging/_temporary) that exists but cannot be read,
        # which would wedge every restart.  Any real analysis failure
        # on committed data propagates and fails the streaming query.
        if has_committed_files(spark, path):
            cur = spark.read.parquet(path).filter(F.col(partition_col).isin(touched))
            merged = upsert_by_rewrite(cur, batch_df, keys)
        else:
            merged = batch_df
        # One shuffle partition per partition value → one file per
        # rewritten partition; without this the writer splits every
        # partition across all shuffle partitions and the partials
        # lake shatters into |days|·|shuffle| tiny files (the S14
        # small-file problem, self-inflicted at ingest time).
        merged = merged.repartition(F.col(partition_col))
        overwrite_partitions(
            merged.localCheckpoint(eager=True), path, [partition_col]
        )

    run_available_now(
        out,
        checkpoint_dir,
        "update",
        input_paths=input_paths,
        sink=lambda w: w.foreachBatch(write_batch),
    )


def append_watermark_flush_file(
    spark: SparkSession, scratch_sf_dir: str, delta: str = "20 days"
) -> None:
    """Append one final replay file holding two SENTINEL events (a
    'view' and a 'click', user_id −1/−2, ts = max(ts) + ``delta``)
    with the newest mtime, so the file stream processes it as the LAST
    micro-batch.

    Why it exists: an outer stream-stream join emits a null-padded row
    only once the watermark PASSES the row's join horizon — over a
    finite replay the final horizon never closes on its own and the
    drain silently withholds the tail of the outer results.  The
    sentinel pushes both sides' watermarks past every real row's
    window (it passes both event_type filters, which is what actually
    advances each branch's watermark — a filtered-out row never
    reaches the watermark operator).  The sentinel rows themselves
    stay inside the final horizon, so they never emit matched rows;
    callers drop any residue with ``user_id >= 0``.  This is the
    replay-harness analogue of a production topic's heartbeat/ticker
    messages — the standard fix for watermark stall on quiet keys."""
    import glob as _glob
    import os
    import time as _time

    ev_dir = f"{scratch_sf_dir}/events.parquet"
    ev = spark.read.parquet(ev_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # Rows by column name in the replay files' own schema, so the
    # sentinel file matches the files the stream already reads.
    sent = spark.createDataFrame(
        [
            dict(event_id=-1, ts=max_ts, user_id=-1, event_type="view", value=0.0, props="{}"),
            dict(event_id=-2, ts=max_ts, user_id=-2, event_type="click", value=0.0, props="{}"),
        ],
        ev.schema,
    ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {delta}"))
    seen = set(_glob.glob(f"{ev_dir}/*.parquet"))
    sent.coalesce(1).write.mode("append").parquet(ev_dir)
    stamp = _time.time() + 500.0
    for f in set(_glob.glob(f"{ev_dir}/*.parquet")) - seen:
        os.utime(f, (stamp, stamp))


def materialize_paced_replay(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8
) -> str:
    """Re-materialize the events fixture as ``n_chunks`` TIME-ORDERED
    parquet files with strictly increasing mtimes, so the file stream
    source (which batches new files oldest-mtime-first) replays them as
    ~n separate micro-batches under ``maxFilesPerTrigger=1`` — the
    SLOWEST replay cadence, where watermark advancement and late-data
    eviction between batches differ most from a single-batch drain.

    Returns a scratch directory shaped like an sf_dir (contains
    ``events.parquet/``) for ``io.scan_stream(spark, scratch,
    "events")``.  Chunk boundaries come from approximate ts quantiles —
    they only shape the pacing; the half-open ranges partition the rows
    exactly, so the UNION across chunks is the full fixture regardless
    of boundary placement.
    Time-ordering across chunks means an in-order replay loses nothing
    to the watermark, which is precisely the batch-equality contract
    the paced twin asserts."""
    import glob as _glob
    import os
    import time as _time
    import uuid as _uuid

    from projectmapreduce_spark.io import scan

    scratch = scratch_path(f"pmr_paced/{_uuid.uuid4().hex[:12]}")
    ev_dir = f"{scratch}/events.parquet"
    os.makedirs(ev_dir, exist_ok=True)
    ev = scan(spark, sf_dir, "events")
    # A NULL ts would fail every half-open range filter and silently
    # vanish from the replay — refuse instead (event-time streaming has
    # no meaningful place for a null event time, and a silent row drop
    # would surface as an oracle hash mismatch far from the cause).
    if ev.filter(F.col("ts").isNull()).limit(1).count():
        raise ValueError("materialize_paced_replay: events fixture has NULL ts rows")
    qs = [k / n_chunks for k in range(1, n_chunks)]
    bounds = (
        ev.select(F.col("ts").cast("double").alias("tsd"))
        .approxQuantile("tsd", qs, 0.001)
    )
    base = _time.time() - 3600.0
    seen: set[str] = set()
    tsd = F.col("ts").cast("double")
    for k in range(n_chunks):
        lo = None if k == 0 else bounds[k - 1]
        hi = None if k == n_chunks - 1 else bounds[k]
        chunk = ev
        if lo is not None:
            chunk = chunk.filter(tsd >= F.lit(lo))
        if hi is not None:
            chunk = chunk.filter(tsd < F.lit(hi))
        chunk.coalesce(1).write.mode("append").parquet(ev_dir)
        new = set(_glob.glob(f"{ev_dir}/*.parquet")) - seen
        for f in new:
            os.utime(f, (base + k * 60.0, base + k * 60.0))
        seen |= new
    return scratch
