"""Streaming-equals-batch equivalence (SURVEY.md §2.9): each streaming
wrapper drains the finite events fixture with availableNow and must
reproduce its batch twin exactly — the strongest check available for
streaming semantics without a live topic."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from projectmapreduce_spark.io import scan
from projectmapreduce_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    running_user_totals,
    session_counts,
    stream_static_join,
    tumbling_counts,
    with_watermark,
)
from tests.conftest import SF_SMOKE


def _drain(spark, out, mode="append"):
    name = "s" + uuid.uuid4().hex[:12]
    run_available_now(out, f"/tmp/pmr_ckpt/{name}", output_mode=mode, query_name=name)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark):
    # complete mode: append would hold back the last (never-closed)
    # window at end-of-stream; complete emits every window, matching batch.
    stream = with_watermark(read_events_stream(spark, SF_SMOKE))
    got = _drain(spark, tumbling_counts(stream), mode="complete")
    ev = scan(spark, SF_SMOKE, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    cols = ["win_start", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_stream_equals_batch(spark):
    stream = with_watermark(read_events_stream(spark, SF_SMOKE))
    got = _drain(spark, session_counts(stream), mode="complete")
    ev = scan(spark, SF_SMOKE, "events")
    want = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("session_window.start").alias("session_start"), "n_events")
    )
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_keys_match_batch(spark):
    """dropDuplicatesWithinWatermark keeps exactly one row per in-horizon
    key; over the finite fixture the surviving KEY SET must equal the
    batch distinct (which row survives is arrival-order-dependent)."""
    stream = with_watermark(read_events_stream(spark, SF_SMOKE), "1 day")
    got = _drain(spark, dedup_within_watermark(stream).select("user_id", "event_type"))
    ev = scan(spark, SF_SMOKE, "events")
    want = ev.select("user_id", "event_type").distinct()
    cols = ["user_id", "event_type"]
    assert _rows(got.distinct(), cols) == _rows(want, cols)


def test_stream_static_join_equals_batch(spark):
    cust = scan(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    stream = read_events_stream(spark, SF_SMOKE)
    joined = stream_static_join(
        stream, cust, stream["user_id"] == cust["c_custkey"]
    ).select("event_id", "c_mktsegment")
    got = _drain(spark, joined)
    ev = scan(spark, SF_SMOKE, "events")
    want = ev.join(cust, ev["user_id"] == cust["c_custkey"]).select(
        "event_id", "c_mktsegment"
    )
    cols = ["event_id", "c_mktsegment"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stateful_running_totals_converge_to_batch(spark):
    """The custom applyInPandasWithState operator's final update per key
    must equal the global batch aggregate."""
    stream = read_events_stream(spark, SF_SMOKE)
    got = _drain(spark, running_user_totals(stream), mode="update")
    # One source file → one micro-batch → exactly one update per key.
    ev = scan(spark, SF_SMOKE, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_interval_join_equals_batch(spark):
    from projectmapreduce_spark.streaming import stream_stream_interval_join

    def sides(read):
        v = read.filter(F.col("event_type") == "view")
        c = read.filter(F.col("event_type") == "click")
        return v, c

    sv, sc = sides(read_events_stream(spark, SF_SMOKE))
    out = stream_stream_interval_join(
        with_watermark(sv, "6 hours"), with_watermark(sc, "6 hours"), "user_id", "6 hours"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("lag_us"),
    )
    got = _drain(spark, out, mode="append")

    bv, bc = sides(scan(spark, SF_SMOKE, "events"))
    la, ra = bv.alias("l"), bc.alias("r")
    want = la.join(
        ra,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 6 hours")),
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
        (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("lag_us"),
    )
    cols = ["view_id", "click_id", "lag_us"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_foreach_batch_sink_refuses_empty_layout(spark):
    """include_batch_id=False with no partition columns would make
    every micro-batch a full-dataset overwrite (silent destruction of
    all prior batches) — the sink must refuse the combination."""
    import pytest

    from projectmapreduce_spark.streaming import (
        read_events_stream,
        sink_stream_foreach_batch,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="layout column"):
        sink_stream_foreach_batch(
            stream, "/tmp/pmr_never_written", "/tmp/pmr_never_ckpt",
            include_batch_id=False, partition_cols=None,
        )


def test_merge_upsert_propagates_corrupt_lake_errors(spark, tmp_path):
    """A corrupt partials lake must FAIL the merge-upsert stream, not
    be silently treated as 'first batch' (which would replace the
    touched partitions with only the current batch's rows)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from projectmapreduce_spark.streaming import read_events_stream

    lake = tmp_path / "lake"
    part = lake / "day=2024-01-01"
    part.mkdir(parents=True)
    # parquet magic but garbage footer -> AnalysisException on read,
    # which the old broad catch would have swallowed
    (part / "part-00000.parquet").write_bytes(b"PAR1garbagegarbage")

    from projectmapreduce_spark.streaming import sink_stream_merge_upsert

    stream = read_events_stream(spark, SF_SMOKE)
    agg = stream.groupBy(
        F.to_date("ts").alias("day"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(StreamingQueryException):
        sink_stream_merge_upsert(
            agg, str(lake), str(tmp_path / "ckpt"), keys=["day", "user_id"], partition_col="day"
        )


def test_has_committed_files_ignores_committer_debris(spark, tmp_path):
    """A sink directory holding only .spark-staging/_temporary debris
    (mid-write crash) must read as 'no committed data' so a restarted
    merge-upsert sink treats it as first batch instead of wedging on
    an unreadable path; real data under a partition dir flips it."""
    from projectmapreduce_spark.io import has_committed_files

    lake = tmp_path / "lake"
    (lake / ".spark-staging-0001").mkdir(parents=True)
    (lake / ".spark-staging-0001" / "part-0.parquet").write_bytes(b"x")
    (lake / "_temporary").mkdir()
    assert not has_committed_files(spark, str(lake))
    (lake / "day=2024-01-01").mkdir()
    (lake / "day=2024-01-01" / "part-0.parquet").write_bytes(b"x")
    assert has_committed_files(spark, str(lake))
    assert not has_committed_files(spark, str(tmp_path / "missing"))


def test_paced_replay_runs_many_microbatches(spark, tmp_path):
    """The paced-replay twin's whole point: under maxFilesPerTrigger=1
    the 6 time-ordered chunk files must drain as ≥6 separate
    micro-batches (checkpoint offsets prove it), and the session
    result must still equal the batch computation — cross-batch
    state-store merging and per-batch watermark advancement are
    lossless for in-order arrival."""
    import shutil

    from projectmapreduce_spark.streaming import materialize_paced_replay

    scratch = materialize_paced_replay(spark, SF_SMOKE, n_chunks=6)
    try:
        stream = with_watermark(read_events_stream(spark, scratch))
        name = "paced_test_" + uuid.uuid4().hex[:8]
        run_available_now(
            session_counts(stream),
            str(tmp_path / "ckpt"),
            "complete",
            name,
            input_paths=[scratch],
        )
        offsets = list((tmp_path / "ckpt" / "offsets").iterdir())
        assert len(offsets) >= 6, f"expected >=6 micro-batches, got {len(offsets)}"
        got = {tuple(r) for r in spark.table(name).collect()}
        ev = scan(spark, SF_SMOKE, "events")
        exp = {
            tuple(r)
            for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
            .collect()
        }
        assert got == exp
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_left_outer_stream_join_emits_outer_tail_across_batches(spark, tmp_path):
    """t7o's certifying invariants, at the mechanism level:
    (1) the paced replay + sentinel drain runs ≥7 micro-batches
    (checkpoint offsets), so outer-row emission genuinely crosses
    batch boundaries; (2) the drained result equals the batch LEFT
    interval join EXACTLY — including every null-padded row (without
    the sentinel the entire outer tail is withheld, asserted too)."""
    import shutil

    from projectmapreduce_spark.streaming import (
        append_watermark_flush_file,
        materialize_paced_replay,
        stream_stream_interval_join,
    )

    def out_for(sf_dir):
        v = with_watermark(
            read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view"),
            "6 hours",
        )
        c = with_watermark(
            read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click"),
            "6 hours",
        )
        return stream_stream_interval_join(
            v, c, "user_id", "6 hours", how="leftOuter"
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("click_id"),
        )

    def drain(out, ckpt):
        name = "t7o_test_" + uuid.uuid4().hex[:8]
        run_available_now(out, str(ckpt), "append", name, input_paths=[scratch])
        return spark.table(name).filter(F.col("user_id") >= 0)

    scratch = materialize_paced_replay(spark, SF_SMOKE, n_chunks=6)
    try:
        # WITHOUT the sentinel: the outer tail is withheld (the final
        # horizons never close) — this is the failure mode the
        # sentinel exists for, so pin it.
        got_stall = drain(out_for(scratch), tmp_path / "ckpt_stall")
        n_null_stall = got_stall.filter(F.col("click_id").isNull()).count()

        append_watermark_flush_file(spark, scratch)
        got = drain(out_for(scratch), tmp_path / "ckpt")
        offsets = list((tmp_path / "ckpt" / "offsets").iterdir())
        assert len(offsets) >= 7, f"expected >=7 micro-batches, got {len(offsets)}"

        bv = scan(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
        bc = scan(spark, SF_SMOKE, "events").filter(F.col("event_type") == "click")
        la, ra = bv.alias("l"), bc.alias("r")
        want = la.join(
            ra,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 6 hours")),
            "leftOuter",
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("click_id"),
        )
        cols = ["user_id", "view_id", "click_id"]
        assert _rows(got, cols) == _rows(want, cols)
        n_null_want = want.filter(F.col("click_id").isNull()).count()
        assert n_null_want > 0, "fixture must exercise the outer tail"
        assert n_null_stall < n_null_want, (
            "sentinel-less drain should withhold outer rows "
            f"(got {n_null_stall} vs batch {n_null_want})"
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _commit_ids(ckpt):
    import os

    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return []
    return sorted(int(f) for f in os.listdir(d) if f.isdigit())


def _stop_after_commits(q, ckpt, want, deadline_s=120):
    """Poll the commit log and stop the query as soon as >= ``want``
    micro-batches have committed — the 'kill a paced drain mid-stream'
    half of the recovery tests."""
    import time

    deadline = time.time() + deadline_s
    while time.time() < deadline:
        if len(_commit_ids(ckpt)) >= want:
            q.stop()
            return
        time.sleep(0.05)
    q.stop()
    raise AssertionError(f"never reached {want} committed batches")


def test_t3r_checkpoint_restart_resumes(spark, tmp_path):
    """Kill the paced session drain mid-stream (after >=3 committed
    micro-batches, with session state live in the store) and RESTART it
    from the same checkpoint.  Recovery must (1) continue batch ids
    instead of resetting, (2) read every chunk file exactly once across
    both runs (checkpoint source log is the ledger), and (3) restore
    the session-window state so the final complete-mode result equals
    the batch computation — sessions spanning the kill boundary merge
    across the restart."""
    import json
    import os
    import shutil

    from projectmapreduce_spark.streaming import materialize_paced_replay

    scratch = materialize_paced_replay(spark, SF_SMOKE, n_chunks=10)
    import glob

    n_chunk_files = len(glob.glob(f"{scratch}/events.parquet/*.parquet"))
    assert n_chunk_files >= 8  # quantile-boundary collisions may merge a chunk
    ckpt = str(tmp_path / "ckpt")
    name = "t3r_restart_" + uuid.uuid4().hex[:8]

    def start(trigger_kwargs):
        stream = with_watermark(read_events_stream(spark, scratch))
        return (
            session_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    try:
        q1 = start({"processingTime": "100 milliseconds"})
        _stop_after_commits(q1, ckpt, 3)
        run1_commits = _commit_ids(ckpt)
        assert len(run1_commits) >= 3
        # mid-stream: the source log must not yet cover all 10 chunks
        src_dir = os.path.join(ckpt, "sources", "0")
        read_so_far = len([f for f in os.listdir(src_dir) if f.isdigit()])
        assert read_so_far < n_chunk_files, "run 1 already finished; nothing to recover"

        q2 = start({"availableNow": True})
        q2.awaitTermination()
        run2_commits = _commit_ids(ckpt)
        # batch ids CONTINUE (no reset to 0)
        assert run2_commits[: len(run1_commits)] == run1_commits
        assert run2_commits[-1] > run1_commits[-1]

        # exactly-once file accounting from the file-source metadata
        # log.  Per-batch logs list each batch's NEW files; every
        # compactInterval-th batch is written as '<id>.compact', a full
        # snapshot that REPEATS earlier entries — so the disjointness
        # check runs over the per-batch logs, and the completeness
        # check over the union of both kinds.
        def entries(fname):
            out = []
            with open(os.path.join(src_dir, fname)) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("["):
                        out += [e["path"] for e in json.loads(line)]
                    elif line.startswith("{"):
                        out.append(json.loads(line)["path"])
            return out

        per_batch = [
            entries(f) for f in os.listdir(src_dir) if f.isdigit()
        ]
        flat = [p for batch in per_batch for p in batch]
        assert len(flat) == len(set(flat)), "a file appears in two micro-batches"
        snapshots = [
            entries(f)
            for f in os.listdir(src_dir)
            if f.endswith(".compact")
        ]
        union = set(flat) | {p for snap in snapshots for p in snap}
        assert len(union) == n_chunk_files

        got = {tuple(r) for r in spark.table(name).collect()}
        ev = scan(spark, SF_SMOKE, "events")
        exp = {
            tuple(r)
            for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
            .collect()
        }
        assert got == exp
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_s21_checkpoint_restart_resumes(spark, tmp_path):
    """The Python streaming DataSource under kill-and-restart: stop the
    paced fixed-width stream after >=2 committed batches, restart from
    the same checkpoint, and prove exactly-once END-TO-END by sinking
    RAW rows to the (manifest-deduplicated) file sink — a replayed
    already-committed file would surface as duplicate rows, a skipped
    one as missing rows.  Also pins that the restarted reader's paced
    latestOffset cannot corrupt the run even though its pacing state
    restarts cold (the _floor guard in partitions())."""
    from projectmapreduce_spark.io import scan
    from projectmapreduce_spark.sources.fixed_width import (
        SUPPLIER_DDL,
        register,
        write_supplier_fixed_width,
    )

    src = str(tmp_path / "fw_src")
    out = str(tmp_path / "fw_out")
    ckpt = str(tmp_path / "ckpt")
    w = write_supplier_fixed_width(spark, SF_SMOKE, src, n_files=12)
    register(spark)

    def start():
        stream = (
            spark.readStream.format("pmr_fixedwidth")
            .option("path", src)
            .option("spec", f"long,string:{w},long,double")
            .option("filesPerTrigger", "2")
            .option("ddl", SUPPLIER_DDL)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    q1 = start()
    _stop_after_commits(q1, ckpt, 2)
    run1_commits = _commit_ids(ckpt)
    assert len(run1_commits) >= 2

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    run2_commits = _commit_ids(ckpt)
    assert run2_commits[: len(run1_commits)] == run1_commits  # ids continue

    sup = scan(spark, SF_SMOKE, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        "s_acctbal",
    )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in sup.collect())
    assert got == want  # every supplier row exactly once across the restart


def test_rocksdb_state_store_restart(spark, tmp_path):
    """RocksDB state store provider, exercised for real (VERDICT r7
    task 4 — previously 'config, not code'): a paced session-window
    drain runs under `RocksDBStateStoreProvider`, is KILLED mid-stream
    with live session state in RocksDB, and restarted from the same
    checkpoint.  Asserts (1) the provider actually engaged — the
    query's stateOperators expose rocksdb* custom metrics, which the
    default HDFS-backed provider never emits; (2) batch ids continue
    across the restart; (3) the recovered final output equals the
    batch computation — state written by RocksDB before the kill is
    read back correctly after it.  At 100 TB-day state volumes the
    provider IS the streaming story (bounded heap, incremental
    checkpoint upload); this pins that the engine's plans run on it
    unchanged."""
    import shutil

    from projectmapreduce_spark.streaming import materialize_paced_replay

    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    scratch = materialize_paced_replay(spark, SF_SMOKE, n_chunks=10)
    ckpt = str(tmp_path / "ckpt")
    name = "rocksdb_restart_" + uuid.uuid4().hex[:8]

    def start(trigger_kwargs):
        stream = with_watermark(read_events_stream(spark, scratch))
        return (
            session_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    spark.conf.set(conf_key, provider)
    try:
        q1 = start({"processingTime": "100 milliseconds"})
        _stop_after_commits(q1, ckpt, 3)
        run1_commits = _commit_ids(ckpt)
        assert len(run1_commits) >= 3
        p = q1.lastProgress
        assert p and p["stateOperators"], "no stateful operator progress recorded"
        metrics = p["stateOperators"][0].get("customMetrics", {})
        rocks_keys = [k for k in metrics if k.lower().startswith("rocksdb")]
        assert rocks_keys, (
            f"provider did not engage: no rocksdb custom metrics in {sorted(metrics)}"
        )

        q2 = start({"availableNow": True})
        q2.awaitTermination()
        run2_commits = _commit_ids(ckpt)
        assert run2_commits[: len(run1_commits)] == run1_commits
        assert run2_commits[-1] > run1_commits[-1]

        got = {tuple(r) for r in spark.table(name).collect()}
        ev = scan(spark, SF_SMOKE, "events")
        exp = {
            tuple(r)
            for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
            .collect()
        }
        assert got == exp
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
        shutil.rmtree(scratch, ignore_errors=True)


def test_t14_state_metadata_facts(spark):
    """T14's literal 'stateStoreSave' is only honest if the
    state-metadata source actually reports it — pin the metadata row
    (operator name, store name, partition count, batch range) and the
    statestore source's per-partition read layout."""
    import shutil

    from projectmapreduce_spark.streaming import (
        read_events_stream,
        run_available_now,
        state_partitions,
    )

    name = "pmrt14meta_" + uuid.uuid4().hex[:8]
    ckpt = f"/tmp/pmr_stream_ckpt/{name}"
    inputs = [f"{SF_SMOKE}/events.parquet"]
    try:
        agg = (
            read_events_stream(spark, SF_SMOKE)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        run_available_now(
            agg, ckpt, output_mode="complete", query_name=name, input_paths=inputs
        )

        meta = spark.read.format("state-metadata").load(ckpt).collect()
        assert len(meta) == 1, "exactly one stateful operator in the plan"
        row = meta[0]
        assert row.operatorName == "stateStoreSave"
        assert row.stateStoreName == "default"
        # the drain harness sizes state from the input, not the batch pin
        assert row.numPartitions == state_partitions(spark, inputs)
        assert row.minBatchId == 0 and row.maxBatchId >= 0

        st = spark.read.format("statestore").load(ckpt)
        # one state row per (window, event_type) group, spread across
        # numPartitions per-partition stores — never a driver collect
        batch = (
            scan(spark, SF_SMOKE, "events")
            .groupBy(F.date_trunc("hour", "ts"), "event_type")
            .count()
        )
        assert st.count() == batch.count()
        assert st.select("partition_id").distinct().count() > 1
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_drain_harness_sizes_state_from_input_bytes(spark, tmp_path):
    """The drain harness sizes a stream's state partitions from its
    input bytes, not from the session's batch shuffle count, and
    leaves that count as it found it — also when the query fails."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from projectmapreduce_spark.session import derive_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    events = f"{SF_SMOKE}/events.parquet"
    expect = derive_shuffle_partitions(os.path.getsize(events), min_partitions=2)
    # The session's count follows its cores, which may equal the derived
    # count; give the session a different one so the sizing shows.
    saved = spark.conf.get(key)
    before = str(expect + 1)
    spark.conf.set(key, before)
    try:
        agg = read_events_stream(spark, SF_SMOKE).groupBy("event_type").count()

        ckpt = str(tmp_path / "ok")
        name = "sized_" + uuid.uuid4().hex[:8]
        run_available_now(agg, ckpt, "complete", name, input_paths=[events])
        assert spark.conf.get(key) == before
        (meta,) = spark.read.format("state-metadata").load(ckpt).collect()
        assert meta.numPartitions == expect != int(before)

        def fail(batch_df, batch_id):
            raise RuntimeError("sink failure")

        with pytest.raises(StreamingQueryException):
            run_available_now(
                agg,
                str(tmp_path / "fail"),
                "complete",
                input_paths=[events],
                sink=lambda w: w.foreachBatch(fail),
            )
        assert spark.conf.get(key) == before
    finally:
        spark.conf.set(key, saved)
