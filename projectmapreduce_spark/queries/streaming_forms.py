"""Declared queries for the Structured Streaming wrappers (SURVEY.md
§2.9 streaming forms).

Each query drains the finite events fixture through a REAL streaming
plan (readStream → stateful op → memory sink, availableNow trigger)
and returns the sink contents.  Every drain goes through the one
harness, ``streaming.core.run_available_now``, which sizes the state
partitions from the query's input files.  Complete/update-mode drains over a
finite source equal their batch twins exactly, so these carry full
SQL oracles — the streaming path is hash-checked, not just smoke-run.

The events fixture ships sub-second timestamps; windows bucket on the
microsecond-truncated value both here and in the oracle.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projectmapreduce_spark.functions import dround, money_sum
from projectmapreduce_spark.queries.registry import query
from projectmapreduce_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    running_user_totals,
    session_counts,
    sliding_counts,
    stream_stream_interval_join,
    tumbling_counts,
    with_watermark,
)


# Shared by t3s (single-batch drain) and t3r (paced replay): the twins
# assert the SAME sessionization contract against the same portable
# gap-and-islands SQL — one definition so they cannot drift.
T3_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o
)
SELECT user_id, min(ts) AS session_start, count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, session_no
"""


def _drain(
    spark: SparkSession, out: DataFrame, mode: str, input_paths: list[str]
) -> DataFrame:
    """Drain ``out`` into a fresh memory table through the harness,
    which sizes its state partitions from ``input_paths``."""
    name = "pmrs_" + uuid.uuid4().hex[:12]
    run_available_now(
        out,
        f"/tmp/pmr_stream_ckpt/{name}",
        output_mode=mode,
        query_name=name,
        input_paths=input_paths,
    )
    return spark.table(name)


def _events(sf_dir: str) -> list[str]:
    return [f"{sf_dir}/events.parquet"]


def _documents(sf_dir: str) -> list[str]:
    return [f"{sf_dir}/documents.parquet"]


@query(
    "t1s_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
    survey="T1,T4",
    category="streaming",
)
def t1s_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 streaming form, complete-mode drain — hash-equal to the batch
    tumbling aggregate (and to DuckDB date_trunc buckets)."""
    stream = with_watermark(read_events_stream(spark, sf_dir))
    return _drain(spark, tumbling_counts(stream), "complete", _events(sf_dir))


@query(
    "t3s_stream_session",
    oracle=T3_SESSION_ORACLE,
    survey="T3,T4",
    category="streaming",
)
def t3s_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 streaming form — native session-window state, checked against
    the portable gap-and-islands SQL."""
    stream = with_watermark(read_events_stream(spark, sf_dir))
    return _drain(spark, session_counts(stream), "complete", _events(sf_dir))


@query(
    "t2s_stream_sliding",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP)
         - k.k * INTERVAL '15 minutes' AS win_start,
       event_type,
       count(*) AS n
FROM events
CROSS JOIN (SELECT unnest(range(4)) AS k) k
GROUP BY 1, 2
""",
    survey="T2,T4",
    category="streaming",
)
def t2s_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 streaming form — overlapping 1h/15min windows maintained as
    streaming state, complete-mode drain hash-equal to the batch
    window explosion."""
    stream = with_watermark(read_events_stream(spark, sf_dir))
    return _drain(spark, sliding_counts(stream), "complete", _events(sf_dir))


@query("t5s_stream_dedup", oracle=None, survey="T5", category="streaming")
def t5s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 streaming form — dropDuplicatesWithinWatermark.  Rows-only:
    which physical row survives depends on arrival order; the KEY SET
    equality is asserted in tests/test_streaming.py."""
    stream = with_watermark(read_events_stream(spark, sf_dir), "1 day")
    out = dedup_within_watermark(stream).select("user_id", "event_type")
    return _drain(spark, out, "append", _events(sf_dir))


@query(
    "t5b_stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    survey="T5",
    category="streaming",
)
def t5b_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 hash-checkable twin (VERDICT r8 task 5) — streaming
    ``dropDuplicates`` with UNBOUNDED state over a keys-only
    projection.  t5s must stay rows-only because
    dropDuplicatesWithinWatermark's surviving row MULTISET is
    arrival-order-dependent across watermark horizons; here the
    projection keeps nothing but the dedup key itself, so the
    surviving set IS the key set — deterministic regardless of which
    physical row won — and the drain carries a plain ``SELECT
    DISTINCT`` oracle (the row_number()=1 formulation collapses to
    DISTINCT once only keys are projected).  Together the twins pin
    both halves of the streaming-dedup contract: t5b the exact key
    set, t5s the watermark-bounded state the 100 TB deployment
    actually runs (unbounded dedup state grows with distinct keys —
    fine for the ~7.5k key pairs here, a documented non-starter on an
    unbounded keyspace).  NULL user_id is a key value of its own on
    both engines."""
    stream = read_events_stream(spark, sf_dir)
    out = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain(spark, out, "append", _events(sf_dir))


@query(
    "x5s_stateful_totals",
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
""",
    survey="T6,X3",
    category="streaming",
)
def x5s_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom applyInPandasWithState operator, update-mode drain.

    The memory sink in update mode APPENDS each micro-batch's updated
    rows, so a multi-file replay leaves one snapshot per (key, batch)
    — at sf1 (32 part files) that was 32×1500 rows, caught by the
    round-3 sf1 sweep (the single-file fixture had hidden it: one
    batch ≡ final state).  The totals are CUMULATIVE, so the final
    state per key is exactly the row with the maximal n_events —
    reduce the drain with max/max_by instead of trusting batch count.
    This is also the correct reading of an update-mode changelog at
    any scale: last-write-wins per key."""
    stream = read_events_stream(spark, sf_dir)
    drained = _drain(spark, running_user_totals(stream), "update", _events(sf_dir))
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(total_value, n_events)").alias("total_value"),
    )


@query(
    "t7s_stream_stream_join",
    oracle="""
SELECT v.user_id AS user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       epoch_us(c.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP) AS lag_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 6 HOUR
WHERE v.event_type = 'view' AND c.event_type = 'click'
""",
    survey="T7,T4",
    category="streaming",
)
def t7s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 stream⋈stream: view→click attribution — each view joined to
    the same user's clicks within the following 6 hours, BOTH sides
    live streams.  The watermark + time-range predicate bound the join
    state to the 6h horizon (the only way a stream-stream join survives
    at topic scale).  Append-mode drain over the finite fixture equals
    the batch interval join, so the streaming join is fully
    hash-checked; lag is exact integer microseconds (no float)."""
    views = with_watermark(
        read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view"),
        "6 hours",
    )
    clicks = with_watermark(
        read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click"),
        "6 hours",
    )
    out = stream_stream_interval_join(views, clicks, "user_id", within="6 hours").select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("lag_us"),
    )
    return _drain(spark, out, "append", _events(sf_dir))


@query(
    "l13s_stream_split",
    oracle="""
WITH s AS (
  SELECT source, n_chars,
         CASE WHEN ((doc_id * 2654435761 + 0) % 4294967296) % 100 < 80 THEN 'train'
              WHEN ((doc_id * 2654435761 + 0) % 4294967296) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM s GROUP BY split
""",
    survey="L13,T1",
    category="streaming",
)
def l13s_stream_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13 on a LIVE ingest stream: the deterministic split is a
    stateless projection, so it composes with readStream unchanged —
    documents entering a continuously-fed corpus get their final
    train/val/test assignment at ingest time (hash of doc_id; no state,
    no rand()), here rolled up per split in complete mode and
    hash-checked against the batch oracle."""
    from projectmapreduce_spark.operators.pipeline import deterministic_split
    from projectmapreduce_spark.streaming import read_documents_stream

    stream = read_documents_stream(spark, sf_dir)
    out = (
        deterministic_split(stream, "doc_id", train_pct=80, val_pct=10)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
    return _drain(spark, out, "complete", _documents(sf_dir))


@query(
    "t8s_foreachbatch_sink",
    oracle="""
WITH s AS (
  SELECT source, n_chars,
         CASE WHEN ((doc_id * 2654435761 + 0) % 4294967296) % 100 < 80 THEN 'train'
              WHEN ((doc_id * 2654435761 + 0) % 4294967296) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM s GROUP BY split
""",
    survey="T8,S8,L13",
    category="streaming",
)
def t8s_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: foreachBatch sink — the streaming ingest writes each
    micro-batch to a hive-partitioned parquet lake via
    dynamic-partition-overwrite keyed by (batch_id, split), the
    standard idempotent-under-replay recipe for foreachBatch's
    at-least-once contract.  The check reads the LAKE back and
    aggregates it: the sink files, not the in-memory stream, must
    hash-match the batch oracle — an end-to-end ingest-to-storage
    proof.  Files are written once per batch; a crash-replayed batch
    would rewrite exactly its own partitions."""
    from projectmapreduce_spark.operators.pipeline import deterministic_split
    from projectmapreduce_spark.streaming import (
        read_documents_stream,
        sink_stream_foreach_batch,
    )

    name = "pmrs_" + uuid.uuid4().hex[:12]
    path = f"/tmp/pmr_stream_sink/{name}"
    out = deterministic_split(read_documents_stream(spark, sf_dir), "doc_id")
    sink_stream_foreach_batch(
        out,
        path,
        f"/tmp/pmr_stream_ckpt/{name}",
        partition_cols=["split"],
        input_paths=_documents(sf_dir),
    )
    lake = spark.read.parquet(path)
    return lake.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "t9s_continuous_aggregate",
    oracle="""
SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
       event_type,
       count(*) AS n_events,
       round(sum(CAST(round(value, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total_value
FROM events
GROUP BY 1, 2
""",
    survey="T9,T8,A14",
    category="streaming",
)
def t9s_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 streaming form: a CONTINUOUS aggregate — the stream maintains
    a day-partitioned hourly-partials lake, serving re-aggregates the
    partials into daily, and the check proves stream-maintained
    partials == direct batch aggregation of the raw events.

    Maintenance is update-mode streaming aggregation + the MERGE sink
    (``sink_stream_merge_upsert``): each micro-batch emits only the
    (hour, event_type) groups whose cumulative state changed; the sink
    anti-join-unions them into the touched DAY partitions and
    dynamic-overwrites exactly those.  Partitioning by day — not by
    group — keeps partition count sane (a per-group layout at hourly
    grain is thousands of 1-row files; measured 14× slower at sf0.01)
    while merge cost still tracks the changed days, not the table.
    The hour key is stored as exact integer micros, and the sum state
    is the order-independent decimal from the money contract, so the
    strict equality against raw-scan aggregation holds at any volume.
    This is the hypertable recipe end-to-end: raw stream touched once,
    serving reads 24·|keys| partial rows per day."""
    from projectmapreduce_spark.streaming import (
        read_events_stream,
        sink_stream_merge_upsert,
    )

    name = "pmrs_" + uuid.uuid4().hex[:12]
    path = f"/tmp/pmr_stream_sink/{name}"
    day_us = F.lit(86_400_000_000)
    hourly = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dround("value", 4).cast("decimal(20,4)")).alias("sum_dec"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("hour_us"),
            "event_type",
            "cnt",
            "sum_dec",
        )
        .withColumn("day_us", F.col("hour_us") - F.pmod(F.col("hour_us"), day_us))
    )
    sink_stream_merge_upsert(
        hourly,
        path,
        f"/tmp/pmr_stream_ckpt/{name}",
        keys=["hour_us", "event_type"],
        partition_col="day_us",
        input_paths=_events(sf_dir),
    )
    partials = spark.read.parquet(path)
    return partials.groupBy(
        F.timestamp_micros(F.col("day_us")).alias("day"), "event_type"
    ).agg(
        F.sum("cnt").alias("n_events"),
        F.round(F.sum("sum_dec"), 2).cast("double").alias("total_value"),
    )


@query(
    "t3r_session_paced_replay",
    oracle=T3_SESSION_ORACLE,
    survey="T3,T4",
    category="streaming",
)
def t3r_session_paced_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 under the SLOWEST replay cadence (round-5 verdict task 8):
    the fixture is re-materialized as 8 time-ordered files with
    strictly increasing mtimes (streaming/core.py:
    materialize_paced_replay) and drained with ``maxFilesPerTrigger=1``
    — every file its own micro-batch, so the watermark ADVANCES BETWEEN
    BATCHES and sessions spanning a file boundary must merge in the
    session-window state store, not inside one batch's shuffle.  The
    single-file fixture drain (t3s) cannot exercise either behavior:
    one batch sees everything, the watermark never moves mid-stream.
    Hash-equal to the identical batch oracle — time-ordered replay
    means in-order arrival, so state-store merging and watermark
    advancement must be exactly lossless."""
    import shutil

    from projectmapreduce_spark.streaming import materialize_paced_replay

    scratch = materialize_paced_replay(spark, sf_dir, n_chunks=8)
    try:
        stream = with_watermark(read_events_stream(spark, scratch))
        return _drain(spark, session_counts(stream), "complete", _events(scratch))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "t7o_stream_stream_left_outer",
    oracle="""
SELECT v.user_id AS user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       epoch_us(c.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 6 HOUR
""",
    survey="T7,T4",
    category="streaming",
)
def t7o_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 LEFT OUTER stream⋈stream (VERDICT r5 next-round #4):
    view→click attribution where views with NO click in the 6h window
    must ALSO appear, null-padded — the subtlest Structured Streaming
    semantics, because an unmatched left row can only be emitted when
    the WATERMARK proves no future click can match (state eviction at
    horizon expiry), never inside the batch that read it.

    Drained under the t3r paced-replay harness (8 time-ordered files,
    maxFilesPerTrigger=1) so eviction actually fires ACROSS
    micro-batches, plus a watermark-flush sentinel file
    (streaming/core.py::append_watermark_flush_file) so the final
    views' horizons close and the outer tail is emitted — without it
    the drain withholds every unmatched view within the last
    6h+watermark of the fixture (measured: 165 of 165 null-padded rows
    missing at sf0.001).  Hash-equal to the batch left interval join:
    matched rows, null-padded rows, exact integer-microsecond lags."""
    import shutil

    from projectmapreduce_spark.streaming import (
        append_watermark_flush_file,
        materialize_paced_replay,
    )

    scratch = materialize_paced_replay(spark, sf_dir, n_chunks=8)
    try:
        append_watermark_flush_file(spark, scratch)
        views = with_watermark(
            read_events_stream(spark, scratch).filter(F.col("event_type") == "view"),
            "6 hours",
        )
        clicks = with_watermark(
            read_events_stream(spark, scratch).filter(F.col("event_type") == "click"),
            "6 hours",
        )
        out = stream_stream_interval_join(
            views, clicks, "user_id", within="6 hours", how="leftOuter"
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("click_id"),
            (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("lag_us"),
        )
        drained = _drain(spark, out, "append", _events(scratch))
        # Sentinel residue (user_id -1) never emits matched rows — it
        # stays inside the final horizon — but guard anyway.
        return drained.filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "t12_multi_stateful",
    oracle="""
WITH v AS (
  SELECT date_trunc('hour', ts) AS win_start, user_id,
         count(*)::BIGINT AS n_views
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
  SELECT date_trunc('hour', ts) AS win_start, user_id,
         count(*)::BIGINT AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT v.win_start AS win_start, v.user_id AS user_id,
       v.n_views AS n_views, c.n_clicks AS n_clicks
FROM v JOIN c ON v.win_start = c.win_start AND v.user_id = c.user_id
""",
    survey="T12,T7,T1",
    category="streaming",
)
def t12_multi_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: CHAINED STATEFUL OPERATORS in one streaming query (VERDICT
    r7 task 3) — window aggregate → window aggregate → stream-stream
    join, THREE stateful operators in a single micro-batch plan, the
    class every prior drain was blind to (each carried exactly one).

    Shape: per-user HOURLY view counts (windowed aggregation, append
    mode — a window emits only once the watermark passes its end) and
    per-user hourly click counts (second aggregation, independent
    state) are stream-stream INNER JOINED on (window, user_id).  The
    aggregates' emitted ``window`` column is still an event-time
    column, which is what makes the downstream join's state bounded:
    Spark evicts join state for windows the watermark has passed.
    This is the supported multi-stateful composition (Spark 3.5+/4
    `statefulOperator.allowMultiple`, default on).

    Drained under the paced-replay harness (8 time-ordered files,
    maxFilesPerTrigger=1) + the watermark-flush sentinel so (a) the
    watermark actually advances BETWEEN batches — windows finalize in
    different micro-batches and the join must match rows arriving from
    its two upstream states across batches, and (b) the final hour's
    windows close and emit.  Hash-equal to the batch hourly-join
    oracle; the streaming_baseline entry pins all THREE stateful
    operators and their state rows."""
    import shutil

    from projectmapreduce_spark.streaming import (
        append_watermark_flush_file,
        materialize_paced_replay,
    )

    scratch = materialize_paced_replay(spark, sf_dir, n_chunks=8)
    try:
        append_watermark_flush_file(spark, scratch)
        views = (
            with_watermark(
                read_events_stream(spark, scratch).filter(F.col("event_type") == "view")
            )
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_views"))
        )
        clicks = (
            with_watermark(
                read_events_stream(spark, scratch).filter(F.col("event_type") == "click")
            )
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"))
        )
        joined = views.join(clicks, ["window", "user_id"], "inner").select(
            F.col("window.start").alias("win_start"),
            "user_id",
            "n_views",
            "n_clicks",
        )
        drained = _drain(spark, joined, "append", _events(scratch))
        # Sentinel residue: the flush rows are user -1 (view) / -2
        # (click), which can never join to each other — filter anyway.
        return drained.filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "t13_agg_after_agg",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         count(*)::BIGINT AS n_hourly
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('day', hr)::TIMESTAMP AS day, event_type,
       sum(n_hourly)::BIGINT AS n_events,
       count(*)::BIGINT AS n_hours,
       max(n_hourly)::BIGINT AS peak_hour
FROM h GROUP BY 1, 2
""",
    survey="T12,T1,T9",
    category="streaming",
)
def t13_agg_after_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12's second shape: AGGREGATE-AFTER-AGGREGATE in one streaming
    query — hourly windowed counts re-aggregated into daily windows by
    a SECOND stateful aggregation over the first's emitted ``window``
    column (``F.window(F.col("window"), "1 day")``, the chained
    time-window aggregation Spark supports since 3.4).  Together with
    t12 (agg+agg→join) the state-shape gate now sees both documented
    multi-stateful compositions.

    Semantics under the paced replay: the HOURLY aggregate emits a
    window only once the watermark passes its end (append mode), so
    daily state receives finalized hourly rows incrementally across
    micro-batches and must keep its own windows open until the
    watermark passes the DAY boundary — two stateful operators whose
    emission cadences differ by 24×, which is what makes this shape a
    distinct test from t12's equal-granularity join.  The flush
    sentinel closes the final day; sentinel residue is excluded
    upstream (user_id filter AFTER the watermark node, so the sentinel
    still advances the clock but never enters the aggregation).
    peak_hour (max over the hourly counts) additionally proves the
    daily state holds real per-hour values, not just a running sum."""
    import shutil

    from projectmapreduce_spark.streaming import (
        append_watermark_flush_file,
        materialize_paced_replay,
    )

    scratch = materialize_paced_replay(spark, sf_dir, n_chunks=8)
    try:
        # TWO flush files at strictly later event times: chained
        # stateful aggregates want one flush level per stage (hourly
        # finalizes, THEN daily ingests and finalizes) — the second
        # sentinel guarantees the margin whatever the batch/no-data
        # cadence.
        append_watermark_flush_file(spark, scratch, delta="20 days")
        append_watermark_flush_file(spark, scratch, delta="40 days")
        #
        # SENTINEL-EXCLUSION TRAP (found live, 145/150 rows): a plain
        # pre-aggregation `filter(user_id >= 0)` gets PUSHED DOWN
        # through the EventTimeWatermark node into the parquet scan,
        # where row-group stats skip the sentinel file whole — the
        # sentinel rows then never reach the watermark operator, the
        # clock never passes the last day's end, and the final day per
        # event_type is silently withheld.  (t7o/t12 never hit this
        # because their sentinels deliberately PASS the event_type
        # filters.)  So: no pre-agg filter at all — the sentinels flow
        # through BOTH aggregations (advancing the watermark at the
        # source), and a marker aggregated alongside (min user_id per
        # window; sentinel windows are 20/40 days from any real event,
        # so they never mix with real groups) drops them at the END,
        # where a filter on an aggregate output cannot be pushed past
        # the aggregation.
        wm = with_watermark(read_events_stream(spark, scratch))
        hourly = wm.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count(F.lit(1)).alias("n_hourly"),
            F.min("user_id").alias("min_uid"),
        )
        daily = (
            hourly.groupBy(F.window(F.col("window"), "1 day"), "event_type")
            .agg(
                F.sum("n_hourly").alias("n_events"),
                F.count(F.lit(1)).alias("n_hours"),
                F.max("n_hourly").alias("peak_hour"),
                F.min("min_uid").alias("min_uid"),
            )
            .filter(F.col("min_uid") >= 0)
            .select(
                F.col("window.start").alias("day"),
                "event_type",
                "n_events",
                "n_hours",
                "peak_hour",
            )
        )
        return _drain(spark, daily, "append", _events(scratch))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "s24_python_stream_sink",
    oracle="""
SELECT s_nationkey::BIGINT AS s_nationkey,
       count(*)::BIGINT AS n_suppliers,
       round(sum(CAST(round(s_acctbal, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total_bal
FROM supplier GROUP BY 1
""",
    survey="S24,S21",
    category="streaming",
)
def s24_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24: custom STREAMING SINK via the Python DataSource API —
    ``df.writeStream.format("pmr_fixedwidth")`` through Spark 4's
    ``DataSource.streamWriter()`` (`sources/fixed_width.py:
    FixedWidthStreamWriter`), completing the connector's fourth and
    last quadrant (VERDICT r7 task 2: batch/stream × read/write).

    The pipe is Python end-to-end: supplier encoded to a fixed-width
    directory, ingested through the custom STREAM READER (s21's offset
    management), and drained into the custom STREAM WRITER — per
    micro-batch, executor tasks stage Arrow-encoded ``_staged-*``
    files and the driver-side ``commit(messages, batchId)`` renames
    them to DETERMINISTIC ``part-<batchId>-NNNNN.txt`` names (deleting
    any prior files of that batchId first), so a crash-replayed batch
    overwrites its own output instead of duplicating it — the
    idempotent-under-replay contract a file sink needs under
    Structured Streaming's at-least-once batch delivery.  Multi-batch
    replay + replay idempotence are pinned in
    tests/test_new_surfaces.py.

    The check reads the SINK DIRECTORY back through the batch reader
    and aggregates: the files the stream committed — not the in-memory
    stream — must hash-match the batch aggregate over the ORIGINAL
    supplier table."""
    from projectmapreduce_spark.io import scratch_path
    from projectmapreduce_spark.sources.fixed_width import (
        SUPPLIER_DDL,
        register,
        write_supplier_fixed_width,
    )

    src = scratch_path("s24_stream_sink_src")
    dst = scratch_path("s24_stream_sink_dst")
    ckpt = scratch_path("s24_stream_sink_ckpt")
    import shutil

    for p in (dst, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    w = write_supplier_fixed_width(spark, sf_dir, src)
    spec = f"long,string:{w},long,double"
    register(spark)
    stream = (
        spark.readStream.format("pmr_fixedwidth")
        .option("path", src)
        .option("spec", spec)
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    run_available_now(
        stream,
        ckpt,
        input_paths=[src],
        sink=lambda w: w.format("pmr_fixedwidth").option("path", dst).option("spec", spec),
    )
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", dst)
        .option("spec", spec)
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        money_sum("s_acctbal").alias("total_bal"),
    )


@query(
    "s21_python_stream_source",
    oracle="""
SELECT s_nationkey::BIGINT AS s_nationkey,
       count(*)::BIGINT AS n_suppliers,
       round(sum(CAST(round(s_acctbal, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total_bal
FROM supplier GROUP BY 1
""",
    survey="S21,T1",
    category="streaming",
)
def s21_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Python DataSource API
    (Spark 4): the fixed-width source (S20) read through
    ``spark.readStream`` with offset management implemented in Python —
    `initialOffset` / `latestOffset` / `partitions(start, end)` /
    `commit`, offsets checkpointed by the engine so a restarted query
    resumes exactly-once per file.  Each micro-batch plans one
    InputPartition per newly-visible file and the partition reader is
    the BATCH decoder verbatim — the batch/streaming parity Spark's own
    file source has, for a connector Spark lacks.

    The drain aggregates the streamed rows per nation (complete mode)
    and must hash-match the batch aggregate over the ORIGINAL supplier
    table — checking schema declaration, offset arithmetic, partition
    planning, and every field decoder under the streaming engine.
    Pacing note pinned by tests/test_new_surfaces.py: availableNow
    snapshots the FIRST latestOffset, so the paced form
    (filesPerTrigger) needs a processing-time trigger to advance —
    the incremental multi-batch path is asserted there, batch-by-batch.
    """
    from projectmapreduce_spark.io import scratch_path
    from projectmapreduce_spark.sources.fixed_width import (
        SUPPLIER_DDL,
        register,
        write_supplier_fixed_width,
    )

    path = scratch_path("s21_stream_src")
    w = write_supplier_fixed_width(spark, sf_dir, path)
    register(spark)
    stream = (
        spark.readStream.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", f"long,string:{w},long,double")
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    agg = stream.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        money_sum("s_acctbal").alias("total_bal"),
    )
    return _drain(spark, agg, "complete", [path])


@query(
    "t14_state_reader",
    oracle="""
SELECT 'stateStoreSave'                AS op_name,
       date_trunc('hour', ts)          AS win_start,
       event_type,
       count(*)                        AS n_events,
       round(sum(CAST(round(value, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS sum_value
FROM events GROUP BY 2, 3
""",
    survey="T14",
    category="streaming",
)
def t14_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: state-store INTROSPECTION (Spark 4 State Data Source) —
    the checkpoint's state store read back as an ordinary DataFrame:
    ``spark.read.format("statestore").load(ckpt)`` returns the live
    (key, value) rows of a stateful operator, and
    ``format("state-metadata")`` enumerates the checkpoint's operators
    (name, store, partition count, batch range).  This is the
    streaming-ops surface a production pipeline needs at 100 TB of
    state: inspect what a stuck query is actually holding, audit
    watermark eviction, and debug skewed state partitions WITHOUT
    stopping the query or adding instrumentation — state lives in
    per-partition stores, and this source plans one read task per
    state partition (no driver collect of state).

    The query drains an hourly windowed aggregate (complete mode, no
    watermark, so state retains every window) and then answers FROM
    THE STATE STORE ALONE: each state row's key is the (window,
    event_type) group, its value the running (count, sum) — for a
    fully-drained finite source these must equal the batch aggregate
    exactly, which is what the hash oracle checks.  ``op_name`` comes
    from the state-metadata source, pinning the documented operator
    name of a streaming aggregation's state commit."""
    name = "pmrt14_" + uuid.uuid4().hex[:12]
    ckpt = f"/tmp/pmr_stream_ckpt/{name}"
    stream = read_events_stream(spark, sf_dir)
    # Exact-sum discipline (module convention, cf. t12/t9s): the state
    # buffer holds a DECIMAL(20,4) running sum, not an order-dependent
    # double — the read-back equals the batch oracle at any tier.
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(dround("value", 4).cast("decimal(20,4)")).alias("sum_raw"),
    )
    run_available_now(
        agg, ckpt, output_mode="complete", query_name=name, input_paths=_events(sf_dir)
    )
    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .select(F.col("operatorName").alias("op_name"))
        .limit(1)
    )
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.window.start").alias("win_start"),
            F.col("key.event_type").alias("event_type"),
            # State value fields are named by the PHYSICAL aggregate
            # (`count`, `sum`), not the query aliases — the store
            # persists the unresolved aggregation buffer schema.
            F.col("value.count").alias("n_events"),
            F.round(F.col("value.sum"), 2).cast("double").alias("sum_value"),
        )
    )
    return state.join(F.broadcast(meta))
