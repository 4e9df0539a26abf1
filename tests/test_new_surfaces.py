"""Round-6 surface additions: recursive CTE (c22), SQL pipe syntax
(c23), RRF fusion (l33), and the gated transformWithState operator.

The driver-facing hash checks live in test_oracle.py like every other
declared query; these tests pin the properties the oracle cannot see."""

from __future__ import annotations

import warnings

import pytest
from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning
from pyspark.sql import functions as F

from projectmapreduce_spark.queries import QUERIES
from tests.conftest import SF_CORRECT, SF_SMOKE


def test_c22_recursion_matches_closed_form(spark):
    """The derived tree (parent(k)=floor(k/10), roots < 10) has a
    closed form: depth(k) = len(str(k)) - 1.  The recursion must
    reproduce the per-depth node counts and balance sums computed
    non-recursively."""
    out = {r["depth"]: r for r in QUERIES["c22_recursive_hierarchy"](spark, SF_CORRECT).collect()}
    cust = spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
    expect = {
        r["depth"]: r
        for r in cust.select(
            (F.length(F.col("c_custkey").cast("string")) - 1).alias("depth"),
            "c_acctbal",
        )
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(20,4)")), 2)
            .cast("double")
            .alias("sum_bal"),
        )
        .collect()
    }
    assert set(out) == set(expect)
    for d in out:
        assert out[d]["n_nodes"] == expect[d]["n_nodes"]
        assert out[d]["sum_bal"] == expect[d]["sum_bal"]


def test_c23_pipe_equals_classic_sql(spark):
    """Pipe syntax is notation, not semantics: the piped form must
    return exactly the classic-SQL form's rows when both run on the
    engine itself (the DuckDB oracle only checks the classic form)."""
    piped = QUERIES["c23_pipe_syntax"](spark, SF_CORRECT).collect()
    classic = spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,4))), 2) AS DOUBLE) AS total,
               count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large
        FROM orders
        WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    ).collect()
    assert piped == classic


def test_l33_rrf_arithmetic_and_bounds(spark):
    """Each query returns exactly its top-10 fused hits; every rrf
    value must recompute from its own rank columns (1/(60+r) per
    present signal), and fused_rank must be consistent with (rrf desc,
    hit_id asc) within each query."""
    rows = QUERIES["l33_rrf_fusion"](spark, SF_CORRECT).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(range(8))
    for q_id, hits in by_q.items():
        assert len(hits) == 10
        hits.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in hits] == list(range(1, 11))
        for r in hits:
            want = 0.0
            if r["lex_rank"] is not None:
                want += 1.0 / (60 + r["lex_rank"])
            if r["sem_rank"] is not None:
                want += 1.0 / (60 + r["sem_rank"])
            assert r["rrf"] == round(want, 8)
        ordered = sorted(hits, key=lambda r: (-r["rrf"], r["hit_id"]))
        assert [r["hit_id"] for r in ordered] == [r["hit_id"] for r in hits]


def test_tws_gate_is_honest():
    """The transformWithState module must correctly report whether its
    runtime dependency (google.protobuf) exists — a silently-wrong flag
    would let the skipped twin rot."""
    from projectmapreduce_spark.streaming.state_v2 import HAS_TWS_DEPS

    try:
        from google.protobuf import descriptor  # noqa: F401

        assert HAS_TWS_DEPS
    except Exception:
        assert not HAS_TWS_DEPS


def _tws_available() -> bool:
    from projectmapreduce_spark.streaming.state_v2 import HAS_TWS_DEPS

    return HAS_TWS_DEPS


@pytest.mark.skipif(not _tws_available(), reason="google.protobuf not installed (container boundary)")
def test_transform_with_state_equals_batch(spark, tmp_path):
    """On an environment with protobuf: drain the events fixture through
    transformWithStateInPandas (RocksDB provider) and assert the
    last-write-wins reduction equals the batch aggregate."""
    import uuid

    from projectmapreduce_spark.io import scan_stream
    from projectmapreduce_spark.streaming import run_available_now
    from projectmapreduce_spark.streaming.state_v2 import ROCKSDB_PROVIDER, user_profile_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        name = "tws_" + uuid.uuid4().hex[:8]
        out = user_profile_stream(scan_stream(spark, SF_CORRECT, "events"))
        run_available_now(out, str(tmp_path / name), output_mode="update", query_name=name)
        final = (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.expr("max_by(total_value, n_events)").alias("total_value"),
                F.expr("max_by(max_value, n_events)").alias("max_value"),
                F.expr("max_by(n_types, n_events)").alias("n_types"),
            )
        )
        batch = (
            spark.read.parquet(f"{SF_CORRECT}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
                F.round(F.max("value"), 2).alias("max_value"),
                F.countDistinct("event_type").alias("n_types"),
            )
        )
        a = sorted(tuple(r) for r in final.collect())
        b = sorted(tuple(r) for r in batch.collect())
        assert a == b
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_s18_manifest_skips_files_without_changing_results(spark):
    """The stats manifest must (a) prune most files for a narrow key
    range, (b) never change results vs the full scan, and (c) carry
    footer stats that bound the actual file contents."""
    from pyspark.sql import functions as F

    from projectmapreduce_spark.io import build_stats_manifest, prune_manifest, scan, scratch_path

    # the declared query writes the lake as a side effect
    QUERIES["s18_stats_file_skipping"](spark, SF_CORRECT).collect()
    lake = scratch_path("s18_lake")
    manifest = build_stats_manifest(lake, "o_orderkey")
    assert len(manifest) >= 8  # 16 range buckets, at least one file each

    span = (
        scan(spark, SF_CORRECT, "orders").agg(F.max("o_orderkey")).collect()[0][0] + 1
    )
    lo, hi = (3 * span) // 8, (4 * span) // 8 - 1
    survivors = prune_manifest(manifest, lo, hi)
    assert 0 < len(survivors) < len(manifest) / 2, (len(survivors), len(manifest))

    pruned = (
        spark.read.parquet(*survivors)
        .filter(F.col("o_orderkey").between(lo, hi))
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .collect()
    )
    full = (
        spark.read.parquet(*[e["path"] for e in manifest])
        .filter(F.col("o_orderkey").between(lo, hi))
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .collect()
    )
    assert pruned == full

    # footer stats bound the data: re-derive per-file min/max the slow way
    for e in manifest[:4]:
        got = (
            spark.read.parquet(e["path"])
            .agg(F.min("o_orderkey"), F.max("o_orderkey"), F.count(F.lit(1)))
            .collect()[0]
        )
        assert (e["min"], e["max"], e["rows"]) == tuple(got)


def test_scd2_history_invariants(spark):
    """SCD2 correctness properties the aggregate oracle cannot see:
    exactly one OPEN row per key, no overlapping intervals within a
    key, contiguous coverage from the initial load to the high date,
    and versions strictly ordered by valid_from."""
    import datetime

    from projectmapreduce_spark.io import scan, scd2_apply

    cust = scan(spark, SF_CORRECT, "customer").select("c_custkey", "c_acctbal")
    high = F.lit("9999-12-31").cast("date")
    hist0 = cust.withColumn("valid_from", F.lit("1995-01-01").cast("date")).withColumn(
        "valid_to", high
    )
    b1 = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 500
    )
    hist1 = scd2_apply(hist0, b1, "c_custkey", "1997-01-01")
    b2 = (
        hist1.filter(F.col("valid_to") == high)
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", (F.col("c_acctbal") - 200).alias("c_acctbal"))
    )
    hist2 = scd2_apply(hist1, b2, "c_custkey", "1999-01-01")

    rows = hist2.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    high_d = datetime.date(9999, 12, 31)
    start_d = datetime.date(1995, 1, 1)
    n_cust = cust.count()
    assert len(by_key) == n_cust
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from"])
        assert sum(1 for r in versions if r["valid_to"] == high_d) == 1
        assert versions[0]["valid_from"] == start_d
        assert versions[-1]["valid_to"] == high_d
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous, non-overlapping
        expected_n = 1 + (key % 7 == 0) + (key % 3 == 0)
        assert len(versions) == expected_n, (key, versions)


def test_scd2_duplicate_key_batch_does_not_fan_out(spark):
    """Round-6 ADVICE hardening: an update batch that repeats a key
    must not DUPLICATE that key's existing history rows through the
    close-out join (the ``marked`` side is distinct'd on the key).
    The append side still reflects the caller's rows — dedup of
    attribute conflicts remains the caller's contract."""
    from projectmapreduce_spark.io import scd2_apply

    high = F.lit("9999-12-31").cast("date")
    hist0 = (
        spark.range(1, 11)
        .select(F.col("id").alias("k"), (F.col("id") * 10.0).alias("bal"))
        .withColumn("valid_from", F.lit("1995-01-01").cast("date"))
        .withColumn("valid_to", high)
    )
    # key 3 appears TWICE in the batch (conflicting attribute values)
    batch = spark.createDataFrame(
        [(3, 111.0), (3, 222.0), (7, 777.0)], "k long, bal double"
    )
    out = scd2_apply(hist0, batch, "k", "1997-01-01").collect()
    # pre-existing history rows survive exactly once each (no join fan-out)
    import datetime

    old = [r for r in out if r["valid_from"] == datetime.date(1995, 1, 1)]
    assert len(old) == 10
    closed = {r["k"] for r in old if r["valid_to"] != datetime.date(9999, 12, 31)}
    assert closed == {3, 7}
    fresh = [r for r in out if r["valid_from"] == datetime.date(1997, 1, 1)]
    assert len(fresh) == 3  # caller's rows pass through verbatim


def test_distributed_manifest_matches_walk(spark):
    """VERDICT r6 task 6: the Spark-parallel footer-read manifest build
    must be ENTRY-IDENTICAL to the driver-side walk on the s18 lake —
    same paths, same min/max/rows, same order."""
    from projectmapreduce_spark.io import (
        build_stats_manifest,
        build_stats_manifest_distributed,
        scratch_path,
    )

    QUERIES["s18_stats_file_skipping"](spark, SF_CORRECT).collect()
    lake = scratch_path("s18_lake")
    walk = build_stats_manifest(lake, "o_orderkey")
    dist = build_stats_manifest_distributed(spark, lake, "o_orderkey")
    assert dist == sorted(walk, key=lambda e: e["path"])
    assert len(dist) >= 8 and all(e["min"] is not None for e in dist)


def test_manifest_drops_uncomparable_stats(tmp_path):
    """Round-6 ADVICE hardening: footer stats whose surfaced value is
    not the column's logical value (binary → bytes, decimal → unscaled
    int under some writers) must be DROPPED (min/max None → file
    conservatively kept by prune), never compared raw."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projectmapreduce_spark.io import build_stats_manifest, prune_manifest

    tbl = pa.table(
        {
            "b": pa.array([b"\x01", b"\x7f"], pa.binary()),
            "flag": pa.array([True, False]),
            "k": pa.array([5, 9], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "part-0.parquet"))
    for col in ("b", "flag"):
        m = build_stats_manifest(str(tmp_path), col)
        assert m[0]["min"] is None and m[0]["max"] is None
        # absent stats => conservatively kept for ANY range
        assert prune_manifest(m, 0, 0) == [m[0]["path"]]
    m = build_stats_manifest(str(tmp_path), "k")
    assert (m[0]["min"], m[0]["max"]) == (5, 9)  # int stats still trusted


def test_fixed_width_codec_edge_vectors():
    """Field codecs must round-trip the values that break naive text
    formats: NaN, -0.0, ±inf, negative longs (two's complement),
    embedded newlines / unicode in strings, and NULLs in every type."""
    import math

    from projectmapreduce_spark.sources.fixed_width import (
        decode_double,
        decode_long,
        decode_string,
        encode_double,
        encode_long,
        encode_string,
    )

    for v in (0, 1, -1, 2**63 - 1, -(2**63), 42, None):
        assert decode_long(encode_long(v)) == v
    for v in (0.0, -0.0, 1.5, float("inf"), float("-inf"), 1e-310, None):
        got = decode_double(encode_double(v))
        assert got == v and (v is None or math.copysign(1, got) == math.copysign(1, v))
    nan = decode_double(encode_double(float("nan")))
    assert math.isnan(nan)
    for v in ("", "plain", "line\nbreak", "ünïcode ♥", " pad  ", None):
        w = 64
        assert decode_string(encode_string(v, w)) == v


def test_fixed_width_roundtrip_rowwise(spark):
    """Beyond the declared query's aggregate hash: every ROW must
    survive the connector round-trip, and the source must plan one
    partition per file."""
    from projectmapreduce_spark.io import scan, scratch_path
    from projectmapreduce_spark.sources.fixed_width import FixedWidthReader

    QUERIES["s20_python_datasource"](spark, SF_CORRECT).collect()
    path = scratch_path("s20_fixedwidth")
    sup = scan(spark, SF_CORRECT, "supplier").select(
        "s_suppkey", "s_name", F.col("s_nationkey").cast("long").alias("s_nationkey"), "s_acctbal"
    )
    w = (
        sup.agg(F.max(F.length(F.encode(F.coalesce("s_name", F.lit("")), "utf-8")))).collect()[0][0]
        or 1
    ) * 2
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", f"long,string:{w},long,double")
        .option("ddl", "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double")
        .load()
    )
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in sup.collect())
    assert a == b

    import pyspark.sql.types as T

    reader = FixedWidthReader(
        {"path": path, "spec": f"long,string:{w},long,double"},
        T._parse_datatype_string("s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"),
    )
    import os

    from projectmapreduce_spark.sources.fixed_width import supplier_fixture_files

    n_files = sum(1 for f in os.listdir(path) if f.endswith(".txt"))
    assert len(reader.partitions()) == n_files == supplier_fixture_files(SF_CORRECT)
    assert n_files >= 2  # multi-file planning stays exercised


def _sparse(path, n_bytes: int) -> None:
    """A file of ``n_bytes`` apparent size that occupies no disk."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "wb") as fh:
        fh.truncate(n_bytes)


def test_supplier_fixture_sizing_walks_nested_layouts(tmp_path):
    """A partitioned supplier dataset is sized from every data file in
    its tree, skipping ``.``/``_`` entries at every level, and
    fingerprinted from every file; flat and single-file layouts size as
    before.  No Spark."""
    import json

    from projectmapreduce_spark.io import _files_fingerprint
    from projectmapreduce_spark.sources.fixed_width import (
        ensure_supplier_fixed_width,
        supplier_fixture_files,
    )

    mib = 1 << 20
    nested = tmp_path / "nested"
    src = nested / "supplier.parquet"
    _sparse(src / "s_nationkey=0" / "part-0.parquet", 20 * mib)
    _sparse(src / "s_nationkey=1" / "part-1.parquet", 20 * mib)
    _sparse(src / "s_nationkey=2" / "s_region=a" / "part-2.parquet", 20 * mib)
    # Skipped at every level: markers, checksums, hidden and temp dirs.
    _sparse(src / "_SUCCESS", 100 * mib)
    _sparse(src / "s_nationkey=1" / ".part-1.parquet.crc", 100 * mib)
    _sparse(src / "s_nationkey=2" / "_temporary" / "part-9.parquet", 100 * mib)
    _sparse(src / ".staging" / "part-8.parquet", 100 * mib)

    # 60 MiB of data files; any skipped 100 MiB entry would change it.
    assert supplier_fixture_files(str(nested)) == 1 + 60 // 8

    # The reuse marker's fingerprint covers the nested files: a marker
    # keyed on them is reused without writing (so no session is needed).
    fixture = tmp_path / "fixture"
    fixture.mkdir()
    fingerprint = [list(entry) for entry in _files_fingerprint(str(src))]
    (fixture / "_PMR_FIXTURE.json").write_text(
        json.dumps(
            {
                "sf_dir": str(nested),
                "n_files": 8,
                "src_fingerprint": fingerprint,
                "w": 42,
            }
        )
    )
    assert ensure_supplier_fixed_width(None, str(nested), str(fixture)) == 42

    flat = tmp_path / "flat"
    _sparse(flat / "supplier.parquet" / "part-0.parquet", 9 * mib)
    _sparse(flat / "supplier.parquet" / "part-1.parquet", 9 * mib)
    _sparse(flat / "supplier.parquet" / "_SUCCESS", 100 * mib)
    assert supplier_fixture_files(str(flat)) == 1 + 18 // 8

    single = tmp_path / "single"
    _sparse(single / "supplier.parquet", 17 * mib)
    assert supplier_fixture_files(str(single)) == 1 + 17 // 8
    assert supplier_fixture_files(str(tmp_path / "missing")) == 8


def test_stream_source_paced_offsets(spark, tmp_path):
    """The paced streaming form (filesPerTrigger) must advance offsets
    INCREMENTALLY across micro-batches under a processing-time trigger
    (availableNow would snapshot the first latestOffset — the
    interaction the s21 docstring documents), consume every file
    exactly once, and converge to the batch aggregate."""
    import ast
    import time

    from projectmapreduce_spark.io import scan, scratch_path
    from projectmapreduce_spark.sources.fixed_width import (
        SUPPLIER_DDL,
        register,
        write_supplier_fixed_width,
    )

    path = scratch_path("s21_paced_test")
    # explicit 8 files: this test is about OFFSET PACING over many
    # files (2/trigger), not the query fixture's data-sized layout
    w = write_supplier_fixed_width(spark, SF_CORRECT, path, n_files=8)
    register(spark)
    stream = (
        spark.readStream.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", f"long,string:{w},long,double")
        .option("filesPerTrigger", "2")
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    agg = stream.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("s_acctbal"), 2).alias("bal")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("s21_paced")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        done = False
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                # python streaming sources serialize offsets as dict repr
                end = ast.literal_eval(p["sources"][0]["endOffset"] or "{}")
                if end.get("n_files") == 8:
                    done = True
                    break
            time.sleep(0.3)
        assert done, "stream never exposed all 8 files"
        q.processAllAvailable()
        batches_with_rows = [
            pr for pr in q.recentProgress if pr["numInputRows"] > 0
        ]
        assert len(batches_with_rows) >= 4, (
            f"pacing should take >= 4 micro-batches for 8 files at 2/trigger, "
            f"saw {len(batches_with_rows)}"
        )
        total_in = sum(pr["numInputRows"] for pr in q.recentProgress)
        n_sup = scan(spark, SF_CORRECT, "supplier").count()
        assert total_in == n_sup  # each file consumed exactly once
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("s21_paced").collect())
    want = sorted(
        tuple(r)
        for r in scan(spark, SF_CORRECT, "supplier")
        .groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("s_acctbal"), 2).alias("bal"))
        .collect()
    )
    assert got == want


def _canon_row(row):
    """Tuple with NaN made comparable (NaN != NaN breaks sorted-tuple
    equality) and -0.0 distinguished from 0.0 (copysign)."""
    import math

    out = []
    for v in row:
        if isinstance(v, float):
            if math.isnan(v):
                out.append("NaN")
            else:
                out.append((v, math.copysign(1.0, v)))
        else:
            out.append(v)
    return tuple(out)


def _hostile_fixed_width_dir(spark, path):
    """A fixed-width directory holding every value class that breaks
    naive decoders: NULL in each type, NaN/-0.0/±inf/denormal doubles,
    min/max int64, empty + newline + unicode strings."""
    from pyspark.sql import types as T

    from projectmapreduce_spark.sources.fixed_width import encode_lines_fn

    rows = [
        (1, "plain", 10, 1.5),
        (2, None, -(2**63), float("nan")),
        (3, "line\nbreak", 2**63 - 1, -0.0),
        (4, "ünïcode ♥", None, float("inf")),
        (5, "", 0, float("-inf")),
        (6, " pad  ", -1, 5e-324),
        (None, "nulls", 7, None),
    ]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    w = max(len(s.encode("utf-8")) * 2 for _, s, _, _ in rows if s is not None)
    spec = [("long", 0), ("string", w), ("long", 0), ("double", 0)]
    df = spark.createDataFrame(rows, schema)
    df.repartition(2).mapInArrow(encode_lines_fn(spec), "value string").write.mode(
        "overwrite"
    ).text(path)
    return rows, w


def test_fixed_width_read_equals_source_rows(spark, tmp_path):
    """The Arrow decode path must reproduce the source rows exactly,
    ROW-FOR-ROW, on the hostile value classes — NULL/NaN/-0.0/±inf/
    denormals/extreme int64/unicode/newlines."""
    from projectmapreduce_spark.sources.fixed_width import register

    register(spark)
    path = str(tmp_path / "fw_hostile")
    rows, w = _hostile_fixed_width_dir(spark, path)

    got = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", f"long,string:{w},long,double")
        .option("ddl", "k bigint, s string, v bigint, d double")
        .load()
    )
    want = sorted((_canon_row(r) for r in rows), key=repr)
    assert sorted((_canon_row(tuple(r)) for r in got.collect()), key=repr) == want


def test_fixed_width_byte_range_splits(spark, tmp_path):
    """Files larger than splitSizeBytes must scan as MULTIPLE aligned
    record-range partitions (one huge export file no longer reads
    1-wide), with rows identical to the unsplit read — including a
    split boundary that lands mid-file."""
    import pyspark.sql.types as T

    from projectmapreduce_spark.sources.fixed_width import FixedWidthReader, register

    register(spark)
    path = str(tmp_path / "fw_split")
    rows, w = _hostile_fixed_width_dir(spark, path)
    spec, ddl = f"long,string:{w},long,double", "k bigint, s string, v bigint, d double"
    span = 16 + w + 16 + 16 + 1

    schema = T._parse_datatype_string(ddl)
    # 2 records per split: any file holding >2 of the 7 rows MUST split
    reader = FixedWidthReader(
        {"path": path, "spec": spec, "splitSizeBytes": str(2 * span)}, schema
    )
    parts = reader.partitions()
    n_files = sum(1 for p in parts if p.start == 0)
    assert n_files == 2 and len(parts) > n_files  # at least one file split
    # ranges tile each file exactly: starts contiguous, no overlap
    by_file = {}
    for p in parts:
        by_file.setdefault(p.path, []).append((p.start, p.n))
    for fpath, ranges in by_file.items():
        total = reader._n_records(fpath)
        if ranges == [(0, -1)]:  # unsplit file: must genuinely be small
            assert total <= 2
            continue
        ranges.sort()
        pos = 0
        for start, n in ranges:
            assert start == pos and 0 < n <= 2
            pos += n
        assert pos == total  # ranges cover the whole file

    want = sorted((_canon_row(r) for r in rows), key=repr)
    got = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .option("ddl", ddl)
        .option("splitSizeBytes", str(2 * span))
        .load()
    )
    assert sorted((_canon_row(tuple(r)) for r in got.collect()), key=repr) == want


def test_fixed_width_stream_reads_split_files_once(spark, tmp_path):
    """The stream's offsets count FILES, so a file larger than
    splitSizeBytes (several batch partitions) must still stream once:
    drained with availableNow, the stream equals the batch read row
    for row."""
    import uuid

    from projectmapreduce_spark.sources.fixed_width import register
    from projectmapreduce_spark.streaming import run_available_now

    register(spark)
    path = str(tmp_path / "fw_split_stream")
    rows, w = _hostile_fixed_width_dir(spark, path)
    span = 16 + w + 16 + 16 + 1
    options = {
        "path": path,
        "spec": f"long,string:{w},long,double",
        "ddl": "k bigint, s string, v bigint, d double",
        "splitSizeBytes": str(2 * span),  # any file of >2 records splits
    }
    batch = spark.read.format("pmr_fixedwidth").options(**options).load()
    stream = spark.readStream.format("pmr_fixedwidth").options(**options).load()
    name = "fw_split_" + uuid.uuid4().hex[:8]
    run_available_now(stream, str(tmp_path / "ckpt"), query_name=name)

    def canon(df):
        return sorted((_canon_row(tuple(r)) for r in df.collect()), key=repr)

    want = canon(batch)
    assert len(want) == len(rows)
    assert canon(spark.table(name)) == want


def test_w10_pattern_on_constructed_series(spark, tmp_path):
    """w10's pattern semantics on a hand-built series where the answer
    is known by inspection: one clean V, one W (two Vs), a plateau
    that must BREAK adjacency (strictness), and a too-short dip that
    must not match."""
    import datetime

    rows = []

    def add(user, vals):
        for i, v in enumerate(vals):
            rows.append(
                (
                    len(rows),
                    datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
                    user,
                    "view",
                    float(v),
                    "{}",
                )
            )

    add(1, [5, 4, 3, 4, 5])          # clean V: down 2, up 2
    add(2, [5, 4, 3, 4, 3, 2, 3, 4])  # W: second V qualifies, first up-run len 1
    add(3, [5, 4, 4, 3, 4, 5])       # plateau splits the down-run: no V
    add(4, [5, 4, 5, 6])             # dip of 1: no V
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["w10_pattern_detect"](spark, str(tmp_path)).collect()
    got = [(r.user_id, r.down_len, r.up_len, r.depth, r.recovery) for r in out]
    assert got == [(1, 2, 2, 2.0, 2.0), (2, 2, 2, 2.0, 2.0)]
    # user 2's match is the SECOND trough (value 2)
    assert len([r for r in out if r.user_id == 2]) == 1


def test_a16_kmv_estimates_are_accurate(spark):
    """The sketch must estimate within KMV's theoretical error band
    (rel std err ~ 1/sqrt(k-1) ≈ 12.6% at k=64; assert 3 sigma) and
    degrade to EXACT counts when a group holds fewer than k distinct
    keys; the intersection estimate must be in the same band around
    the exact intersection."""
    out = {r.grp: r for r in QUERIES["a16_kmv_distinct"](spark, SF_CORRECT).collect()}
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    exact = {
        r.grp: r.n
        for r in o.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    tol = 3 / (63**0.5)
    for grp, n in exact.items():
        est = out[grp].est
        if n < 64:
            assert est == float(n), f"{grp}: sub-k group must be exact"
        else:
            assert abs(est - n) / n < tol, f"{grp}: est {est} vs exact {n}"
    a = {r.o_custkey for r in o.filter("o_orderpriority = '1-URGENT'").select("o_custkey").distinct().collect()}
    b = {r.o_custkey for r in o.filter("o_orderpriority = '2-HIGH'").select("o_custkey").distinct().collect()}
    n_inter = len(a & b)
    est_inter = out["URGENT&HIGH"].est
    # intersection compounds two estimates; widen to 3x the band + small-count floor
    assert abs(est_inter - n_inter) <= max(3 * tol * n_inter, 15), (est_inter, n_inter)


def test_l34_matches_independent_reimplementation(spark):
    """The declared weighted sample must equal a from-scratch Python
    reimplementation of the same PRF + Efraimidis-Spirakis keys
    (hashlib.md5 + math.log, no Spark) — pinning the full chain:
    hash fold, u construction, key arithmetic, rounding, tiebreaks."""
    import hashlib
    import math

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_source: dict[str, list] = {}
    for r in docs:
        if r.n_chars is None or r.n_chars <= 0:
            continue
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:13], 16)
        u = (h + 1) / float((1 << 52) + 1)
        key = round(math.log(u) / math.log(1 + r.n_chars), 8)
        by_source.setdefault(r.source, []).append((key, r.doc_id))
    want = []
    for src in sorted(by_source):
        picked = sorted(by_source[src], key=lambda t: (-t[0], t[1]))[:10]
        for rank, (key, doc_id) in enumerate(picked, 1):
            want.append((src, doc_id, key, rank))
    got = [
        (r.source, r.doc_id, r.skey, r["rank"])
        for r in QUERIES["l34_weighted_sample"](spark, SF_CORRECT).collect()
    ]
    assert got == want


def test_x8_analyze_time_polymorphism(spark):
    """The UDTF's analyze() must (a) name the output key column after
    the partition column ARGUMENT (plan-time schema polymorphism) and
    (b) reject a column that is not in the passed table's schema at
    ANALYSIS time, not at runtime."""
    from pyspark.errors import AnalysisException

    df = QUERIES["x8_polymorphic_udtf"](spark, SF_CORRECT)
    assert df.columns == ["o_orderpriority", "bucket", "n"]
    # histogram counts must sum to the table's non-null rows
    total = sum(r.n for r in df.collect())
    n_rows = (
        spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
        .filter(F.col("o_totalprice").isNotNull())
        .count()
    )
    assert total == n_rows
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.sql(
            """
            SELECT * FROM pmr_bucket_counts(
              TABLE(pmr_orders_x8) PARTITION BY (o_orderpriority),
              'o_orderpriority', 'no_such_col', 0.0D, 1.0D, 4)
            """
        ).collect()


def test_l35_split_matches_independent_reimplementation(spark):
    """The split must partition every document exactly once, land near
    the declared 96/2/2 fractions, and match a from-scratch Python
    reimplementation of the PRF rule (hashlib.md5, no Spark) on every
    (split, source) count and id checksum."""
    import hashlib

    rows = QUERIES["l35_dataset_split"](spark, SF_CORRECT).collect()
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).collect()
    assert sum(r.n_docs for r in rows) == len(docs)
    frac = sum(r.n_docs for r in rows if r.split == "train") / len(docs)
    assert 0.90 <= frac <= 1.0  # 96% +/- small-sample noise

    want: dict = {}
    for d in docs:
        h = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:13], 16) % 100
        split = "train" if h < 96 else ("val" if h < 98 else "test")
        k = (split, d.source)
        n, chars, ids = want.get(k, (0, 0, 0))
        want[k] = (n + 1, chars + d.n_chars, ids + d.doc_id)
    got = {(r.split, r.source): (r.n_docs, r.total_chars, r.id_checksum) for r in rows}
    assert got == want


def test_fixed_width_writer_vectorized_equals_rowwise(spark):
    """The numpy-vectorized encoder must produce BYTE-IDENTICAL lines
    to lines joined from the scalar codecs on the hostile value
    classes."""
    import pyarrow as pa

    from projectmapreduce_spark.sources.fixed_width import (
        encode_double,
        encode_lines_fn,
        encode_long,
        encode_string,
    )

    rows = [
        (1, "plain", 10, 1.5),
        (2, None, -(2**63), float("nan")),
        (3, "line\nbreak", 2**63 - 1, -0.0),
        (4, "ünïcode ♥", None, float("inf")),
        (5, "", 0, float("-inf")),
        (6, " pad  ", -1, 5e-324),
        (None, "nulls", 7, None),
    ]
    w = max(len(s.encode("utf-8")) * 2 for _, s, _, _ in rows if s is not None)
    spec = [("long", 0), ("string", w), ("long", 0), ("double", 0)]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.string()),
            pa.array([r[2] for r in rows], pa.int64()),
            pa.array([r[3] for r in rows], pa.float64()),
        ],
        names=["k", "s", "v", "d"],
    )
    (out,) = list(encode_lines_fn(spec)([batch]))
    want = [
        encode_long(k) + encode_string(s, w) + encode_long(v) + encode_double(d)
        for k, s, v, d in rows
    ]
    assert out.column(0).to_pylist() == want

    # overflow must still raise, not truncate
    import pytest as _pytest

    tiny = [("long", 0), ("string", 4), ("long", 0), ("double", 0)]
    with _pytest.raises(Exception, match="overflows"):
        list(encode_lines_fn(tiny)([batch]))


def test_w11_funnel_ordering_and_window(spark, tmp_path):
    """Funnel semantics on a constructed fixture: a click BEFORE the
    first view must not count; a click 73h after the view must not
    count; a purchase within 72h of a qualifying click must."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [
        # user 1: full funnel (view@0, click@1, purchase@2)
        (1, at(0), 1, "view", 1.0, "{}"),
        (2, at(1), 1, "click", 1.0, "{}"),
        (3, at(2), 1, "purchase", 1.0, "{}"),
        # user 2: click BEFORE view -> funnel stops at view
        (4, at(5), 2, "view", 1.0, "{}"),
        (5, at(4), 2, "click", 1.0, "{}"),
        # user 3: click 73h after view -> outside the window
        (6, at(0), 3, "view", 1.0, "{}"),
        (7, at(73), 3, "click", 1.0, "{}"),
        # user 4: view+click, purchase 100h after click -> no purchase
        (8, at(0), 4, "view", 1.0, "{}"),
        (9, at(10), 4, "click", 1.0, "{}"),
        (10, at(110), 4, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["w11_funnel_analysis"](spark, str(tmp_path)).collect()[0]
    assert (out.n_view, out.n_click, out.n_purchase) == (4, 2, 1)
    assert out.click_lag_us == (1 + 10) * 3600 * 1_000_000
    assert out.purchase_lag_us == 1 * 3600 * 1_000_000


# ---------------------------------------------------------------------------
# Round 8: Python DataSource WRITER (S23 batch / S24 streaming) — the
# commit/abort semantics the s23/s24 hash oracles cannot see.
# ---------------------------------------------------------------------------


def test_writer_api_roundtrip_hostile(spark, tmp_path):
    """df.write.format("pmr_fixedwidth") must round-trip the hostile
    value classes (NULL per type, NaN/-0.0/±inf/denormal, min/max
    int64, empty/newline/unicode strings) bit-exactly — the writer API
    path, not the mapInArrow helper the older tests cover."""
    from pyspark.sql import types as T

    from projectmapreduce_spark.sources.fixed_width import register

    rows = [
        (1, "plain", 10, 1.5),
        (2, None, -(2**63), float("nan")),
        (3, "line\nbreak", 2**63 - 1, -0.0),
        (4, "ünïcode ♥", None, float("inf")),
        (5, "", 0, float("-inf")),
        (6, " pad  ", -1, 5e-324),
        (None, "nulls", 7, None),
    ]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    w = max(len(s.encode("utf-8")) * 2 for _, s, _, _ in rows if s is not None)
    spec = f"long,string:{w},long,double"
    path = str(tmp_path / "writer_hostile")
    register(spark)
    df = spark.createDataFrame(rows, schema)
    (
        df.repartition(3)
        .write.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .option("ddl", "k bigint, s string, v bigint, d double")
        .load()
        .collect()
    )

    def canon(t):
        # NaN != NaN; compare via repr which renders nan/-0.0 distinctly
        return tuple(repr(x) for x in t)

    assert sorted(canon(tuple(r)) for r in back) == sorted(canon(r) for r in rows)


def test_writer_abort_leaves_nothing(spark, tmp_path):
    """Commit protocol proof (VERDICT r7 task 2 done-criterion): a
    write job with a failing task must (a) raise, (b) leave the
    PREVIOUS generation fully visible and untouched — overwrite happens
    inside commit, after all tasks succeed — and (c) leave zero staged
    files behind."""
    import os

    from pyspark.sql import types as T

    from projectmapreduce_spark.sources.fixed_width import register

    register(spark)
    path = str(tmp_path / "writer_abort")
    spec = "long,double"
    ddl = "k bigint, d double"
    old = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, d double")
    (
        old.write.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .mode("overwrite")
        .save()
    )
    gen0 = sorted(os.listdir(path))

    @F.udf(T.DoubleType())
    def boom(v):
        raise RuntimeError("injected task failure")

    bad = spark.createDataFrame([(9, 9.0)], "k long, d double").withColumn("d", boom("d"))
    with pytest.raises(Exception):
        (
            bad.write.format("pmr_fixedwidth")
            .option("path", path)
            .option("spec", spec)
            .mode("overwrite")
            .save()
        )
    assert sorted(os.listdir(path)) == gen0, "failed overwrite must not touch the old generation"
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .option("ddl", ddl)
        .load()
        .collect()
    )
    assert sorted(tuple(r) for r in back) == [(1, 1.0), (2, 2.0)]


def test_stream_writer_multibatch_and_replay_idempotent(spark, tmp_path):
    """The streaming sink under a PACED source (filesPerTrigger=2 over
    8 files → ≥4 micro-batches): every batch publishes deterministic
    part-<batchId>-* names, the union of all batches equals the source
    multiset, and a REPLAYED commit of the same batchId (the crash
    window between sink commit and checkpoint commit) overwrites its
    own files instead of duplicating rows."""
    import os
    import time

    from projectmapreduce_spark.io import scan, scratch_path
    from projectmapreduce_spark.sources.fixed_width import (
        SUPPLIER_DDL,
        FixedWidthStreamWriter,
        _StagedFile,
        register,
        write_supplier_fixed_width,
    )

    src = scratch_path("s24_paced_src_test")
    dst = str(tmp_path / "dst")
    # explicit 8 files: multi-batch replay needs several triggers
    w = write_supplier_fixed_width(spark, SF_CORRECT, src, n_files=8)
    spec = f"long,string:{w},long,double"
    register(spark)
    stream = (
        spark.readStream.format("pmr_fixedwidth")
        .option("path", src)
        .option("spec", spec)
        .option("filesPerTrigger", "2")
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    q = (
        stream.writeStream.format("pmr_fixedwidth")
        .option("path", dst)
        .option("spec", spec)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        n_sup = scan(spark, SF_CORRECT, "supplier").count()
        while time.time() < deadline:
            q.processAllAvailable()
            visible = [f for f in os.listdir(dst) if f.endswith(".txt") and not f.startswith("_")]
            batch_ids = {f.split("-")[1] for f in visible}
            if len(batch_ids) >= 4:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    visible = sorted(f for f in os.listdir(dst) if f.endswith(".txt") and not f.startswith("_"))
    batch_ids = {f.split("-")[1] for f in visible}
    assert len(batch_ids) >= 4, f"paced drain should commit >= 4 micro-batches, saw {batch_ids}"
    assert not any(f.startswith("_staged-") for f in os.listdir(dst))
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", dst)
        .option("spec", spec)
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    want = sorted(
        tuple(r)
        for r in scan(spark, SF_CORRECT, "supplier")
        .select("s_suppkey", "s_name", F.col("s_nationkey").cast("long"), "s_acctbal")
        .collect()
    )
    assert sorted(tuple(r) for r in back.collect()) == want

    # Replay: re-commit batch 0 with fresh staged files — the sink must
    # REPLACE batch 0's output (same deterministic names), not append.
    from pyspark.sql.types import StructType

    opts = {"path": dst, "spec": spec}
    wtr = FixedWidthStreamWriter(
        opts, spark.createDataFrame([], SUPPLIER_DDL).schema, overwrite=False
    )
    replay = os.path.join(dst, "_staged-replay.txt")
    batch0 = [f for f in visible if f.startswith("part-00000000-")]
    content = "".join(
        open(os.path.join(dst, f)).read() for f in sorted(batch0)
    )
    with open(replay, "w") as fh:
        fh.write(content)
    wtr.commit([_StagedFile(replay, content.count("\n"))], 0)
    back2 = (
        spark.read.format("pmr_fixedwidth")
        .option("path", dst)
        .option("spec", spec)
        .option("ddl", SUPPLIER_DDL)
        .load()
    )
    assert sorted(tuple(r) for r in back2.collect()) == want, "replayed batch must not duplicate"


def test_fixed_width_rejects_corrupt_input(spark, tmp_path):
    """ADVICE r7 items 1+4: the vectorized reader must REFUSE corrupt
    files loudly — stray trailing bytes (span misalignment) and
    non-lowercase-hex bytes both previously decoded to garbage numbers
    silently."""
    import os

    from projectmapreduce_spark.sources.fixed_width import register

    register(spark)
    path = str(tmp_path / "corrupt")
    spec = "long,double"
    ddl = "k bigint, d double"
    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k long, d double")
    (
        df.coalesce(1)
        .write.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .mode("overwrite")
        .save()
    )
    part = [f for f in os.listdir(path) if not f.startswith("_")][0]
    reader = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .option("ddl", ddl)
    )
    assert reader.load().count() == 3

    # (a) stray trailing garbage -> span misalignment must raise
    with open(os.path.join(path, part), "ab") as fh:
        fh.write(b"garbage")
    with pytest.raises(Exception, match="not a multiple of the record span|truncated"):
        reader.load().collect()
    # restore alignment, then (b) corrupt one byte to uppercase hex
    size = os.path.getsize(os.path.join(path, part)) - len(b"garbage")
    with open(os.path.join(path, part), "r+b") as fh:
        fh.truncate(size)
        fh.seek(3)
        fh.write(b"A")
    with pytest.raises(Exception, match="invalid byte|lowercase hex"):
        reader.load().collect()


def test_pushdown_removes_filter_node_and_stays_correct(spark, tmp_path):
    """S25 plan proof: when every conjunct is accepted by pushFilters,
    Catalyst REMOVES the Filter node above the Python scan — so
    correctness rests entirely on the source's Arrow mask, which must
    agree with Spark's own filter over the source rows row-for-row,
    including NULL semantics (comparison with NULL drops the row;
    IsNull keeps it)."""
    from pyspark.sql import types as T

    from projectmapreduce_spark.sources.fixed_width import register

    register(spark)
    rows = [
        (1, "alpha", 10, 1.5),
        (2, None, 5, None),
        (3, "alphabet", None, -2.0),
        (4, "beta", 20, 3.0),
        (5, "al", 30, 0.0),
    ]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    w = max(len(s.encode()) * 2 for _, s, _, _ in rows if s) or 2
    spec = f"long,string:{w},long,double"
    path = str(tmp_path / "pushdown")
    df = spark.createDataFrame(rows, schema)
    (
        df.write.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .mode("overwrite")
        .save()
    )

    def load():
        return (
            spark.read.format("pmr_fixedwidth")
            .option("path", path)
            .option("spec", spec)
            .option("ddl", "k bigint, s string, v bigint, d double")
            .load()
        )

    cond = (
        F.col("s").startswith("al")
        & (F.col("v") >= 10)
        & F.col("d").isNotNull()
    )
    pushed = load().filter(cond)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    import re

    assert not re.search(r"\bFilter \(", plan), (
        f"all conjuncts pushable, Filter node must vanish:\n{plan}"
    )
    expect = sorted(tuple(r) for r in df.filter(cond).collect())
    assert sorted(tuple(r) for r in pushed.collect()) == expect
    # IsNull pushdown keeps exactly the null rows
    assert [r["k"] for r in load().filter(F.col("v").isNull()).collect()] == [3]


def test_pushdown_yields_unsupported_filters_back(spark, tmp_path):
    """A conjunct the source cannot evaluate must be yielded back:
    the plan keeps a Filter node for the residual, the supported
    conjuncts still vanish, and results match the unpushed
    computation."""
    from projectmapreduce_spark.sources.fixed_width import (
        FixedWidthReader,
        register,
    )
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    register(spark)
    path = str(tmp_path / "p2")
    df = spark.createDataFrame(
        [(1, "aXb", 1.0), (2, "ayb", 2.0), (3, "aXc", 3.0)], "k long, s string, d double"
    )
    spec = "long,string:6,double"
    (
        df.write.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("pmr_fixedwidth")
        .option("path", path)
        .option("spec", spec)
        .option("ddl", "k bigint, s string, d double")
        .load()
    )
    # Catalyst decomposes LIKE 'a%b' into StartsWith('a') AND
    # EndsWith('b') (both pushed) AND a length(s) >= 2 residual the
    # source cannot express — the residual must survive as a Filter
    # node while the pushable conjuncts vanish into the scan.
    q = back.filter(F.col("s").like("a%b") & (F.col("k") > 0))
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"\bFilter \(length", plan), plan
    assert sorted(r["k"] for r in q.collect()) == [1, 2]

    # API-level: pushFilters returns exactly the unsupported subset
    rdr = FixedWidthReader({"path": path, "spec": spec}, back.schema)
    unsupported = list(
        rdr.pushFilters([EqualTo(("k",), 1), StringStartsWith(("missing",), "a")])
    )
    assert [type(f).__name__ for f in unsupported] == ["StringStartsWith"]
    assert [type(f).__name__ for f in rdr.pushed] == ["EqualTo"]


def test_s27_bloom_footer_payload(spark):
    """S27's honesty boundary: parquet-mr exposes no row-group-skip
    counter locally, so what IS assertable is that the bloom write
    option put a real payload in the file — the bloom-enabled file
    must be strictly larger than a bloom-less twin of identical data,
    with identical row counts, and a point lookup must read correctly
    through the filter."""
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="pmr_s27_")
    try:
        li = (
            spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
            .select("l_orderkey", "l_linenumber")
            .coalesce(1)
        )
        li.write.mode("overwrite").parquet(f"{d}/plain")
        (
            li.write.option("parquet.bloom.filter.enabled#l_orderkey", "true")
            .option("parquet.bloom.filter.expected.ndv#l_orderkey", "20000")
            # parquet-mr SKIPS the bloom while a chunk stays fully
            # dictionary-encoded (the dictionary is already an exact
            # filter); disable the dictionary for the key column to
            # model the high-cardinality dict-overflow case the bloom
            # exists for (measured: with dictionary on, the fixture's
            # file is byte-identical to the bloom-less twin)
            .option("parquet.enable.dictionary#l_orderkey", "false")
            .mode("overwrite")
            .parquet(f"{d}/bloom")
        )

        def _bytes(p):
            return sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )

        plain, bloom = _bytes(f"{d}/plain"), _bytes(f"{d}/bloom")
        assert bloom > plain, (plain, bloom)
        # sized-from-NDV payload is non-trivial (>=1 KiB for 20k NDV)
        assert bloom - plain > 1024, (plain, bloom)

        back = spark.read.parquet(f"{d}/bloom").filter(F.col("l_orderkey") == 42)
        base = li.filter(F.col("l_orderkey") == 42)
        assert back.count() == base.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_c32_hints_take_effect(spark):
    """C32's reason to exist: the hints must STEER the plan, not just
    parse.  At sf0.01 `orders` is far below the broadcast threshold,
    so the unhinted twin broadcasts BOTH join sides; the declared
    query's MERGE(orders) must force a SortMergeJoin that survives
    AQE's broadcast-demotion pass, while BROADCAST(supplier) keeps
    the dim side a broadcast build.  Executed-plan assertion — AQE
    has finalized when we read the node list."""
    from projectmapreduce_spark.plans.inspect import physical_node_names

    df = QUERIES["c32_query_hints"](spark, SF_CORRECT)
    df.count()
    names = set(physical_node_names(df))
    assert "SortMergeJoinExec" in names, "MERGE hint did not force SMJ"
    assert "BroadcastHashJoinExec" in names, "BROADCAST hint lost"

    unhinted = spark.sql(
        """
        SELECT s_nationkey, o_orderpriority, count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY s_nationkey, o_orderpriority
        """
    )
    unhinted.count()
    assert "SortMergeJoinExec" not in set(physical_node_names(unhinted)), (
        "control violated: the unhinted twin should broadcast orders — "
        "if this fires the fixture outgrew the threshold and the hint "
        "test is no longer testing precedence"
    )


def test_c32_hint_family_shuffle_hash_and_rebalance(spark):
    """The other two hint families steer as documented: SHUFFLE_HASH
    forces a ShuffledHashJoin (no sort phase — the pre-sorted-input
    escape from SMJ), and REBALANCE inserts an AQE-managed shuffle
    whose partitioning the runtime may split/coalesce by size."""
    from projectmapreduce_spark.plans.inspect import physical_node_names

    spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").createOrReplaceTempView(
        "li_h"
    )
    spark.read.parquet(f"{SF_CORRECT}/orders.parquet").createOrReplaceTempView(
        "ord_h"
    )
    sh = spark.sql(
        "SELECT /*+ SHUFFLE_HASH(ord_h) */ count(*) AS n "
        "FROM li_h JOIN ord_h ON l_orderkey = o_orderkey"
    )
    sh.count()
    assert "ShuffledHashJoinExec" in set(physical_node_names(sh))

    rb = spark.sql("SELECT /*+ REBALANCE(l_returnflag) */ l_returnflag FROM li_h")
    rb.count()
    assert "ShuffleExchangeExec" in set(physical_node_names(rb))
    # Hints never change semantics: the rebalanced scan returns the
    # same multiset cardinality as the plain one.
    assert rb.count() == spark.table("li_h").count()


def test_c29_gives_no_index_advice(spark):
    """c29 drops the pandas-on-Spark index on purpose (keeping the default
    index would add a stage), so building and collecting it must not
    print pyspark's advice that the index is lost."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        QUERIES["c29_pandas_on_spark"](spark, SF_SMOKE).collect()
    advice = [w for w in caught if issubclass(w.category, PandasAPIOnSparkAdviceWarning)]
    assert advice == [], [str(w.message) for w in advice]


def test_x1_gives_no_eval_type_warning(spark):
    """x1's row-at-a-time UDF is a plain @F.udf; type hints on it make
    pyspark try to infer an Arrow eval type and warn that it cannot, so
    building and collecting it must not print that warning."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        QUERIES["x1_scalar_udf"](spark, SF_SMOKE).collect()
    infer = [str(w.message) for w in caught if "Cannot infer the eval type" in str(w.message)]
    assert infer == [], infer
