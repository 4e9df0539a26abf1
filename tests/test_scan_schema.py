"""io.scan infers each local table's schema once per file set and conf
state: later scans of the same unchanged files pass the remembered
schema back and run no Spark job, and any change to the files or to an
inference conf makes the next scan infer again."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from projectmapreduce_spark import io
from projectmapreduce_spark.io import _read_parquet, scan
from tests.conftest import SF_SMOKE

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def empty_memo(monkeypatch):
    """A memo with no entries, so the first scan of a table infers."""
    monkeypatch.setattr(io, "_SCHEMAS", {})


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_scan_infers_each_table_once(spark, empty_memo, monkeypatch):
    """Five scans of a table run one schema-inference job, not five,
    and each scan's schema is the one ``scan`` builds over a fresh,
    uncached ``spark.read.parquet`` under the same conf."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "scan_schema_" + uuid.uuid4().hex[:8]
    tables = ("lineitem", "orders", "events")
    jobs, schemas = {}, {}
    try:
        for t in tables:
            sc.setJobGroup(f"{group}_{t}", f"five scans of {t}")
            schemas[t] = [scan(spark, SF_SMOKE, t).schema for _ in range(5)]
            jobs[t] = len(tracker.getJobIdsForGroup(f"{group}_{t}"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert jobs == {t: 1 for t in tables}

    monkeypatch.setattr(io, "_read_parquet", lambda spark, path: spark.read.parquet(path))
    for t in tables:
        want = scan(spark, SF_SMOKE, t).schema
        assert schemas[t] == [want] * 5, t


def test_overwritten_file_is_inferred_again(spark, empty_memo, tmp_path):
    """A single-file table overwritten with another column set and
    types: the next scan returns the new schema and the new rows."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first = scan(spark, str(tmp_path), "t")
    assert first.columns == ["a", "b"] and dict(first.dtypes)["a"] == "bigint"

    pq.write_table(pa.table({"a": ["p", "q"], "c": [1.5, 2.5]}), path)
    second = scan(spark, str(tmp_path), "t")
    assert dict(second.dtypes) == {"a": "string", "c": "double"}
    assert _rows(second) == _rows(spark.read.parquet(str(path)))
    assert [tuple(r) for r in _rows(second)] == [("p", 1.5), ("q", 2.5)]


def test_added_wider_part_file_is_inferred_again(spark, empty_memo, tmp_path):
    """A directory table gains a part file with an extra column: the
    next scan matches a fresh, uncached read of the directory."""
    path = tmp_path / "t.parquet"
    spark.range(4).selectExpr("id", "cast(id as string) as x").coalesce(2).write.parquet(
        str(path)
    )
    assert scan(spark, str(tmp_path), "t").columns == ["id", "x"]

    # Named to sort before Spark's part files, so it is the footer a
    # non-merging inference reads.
    pq.write_table(
        pa.table({"id": [10, 11], "x": ["10", "11"], "y": [0.5, 1.5]}),
        path / "a-wide.parquet",
    )
    fresh = spark.read.parquet(str(path))
    assert "y" in fresh.columns, "fixture must change what Spark infers"
    got = scan(spark, str(tmp_path), "t")
    assert got.schema == fresh.schema
    assert _rows(got) == _rows(fresh)


def test_nanos_as_long_conf_change_is_inferred_again(spark, empty_memo, tmp_path):
    """A TIMESTAMP(NANOS) column reads as bigint only while
    nanosAsLong is on (Spark rejects the type while it is off), so
    toggling the conf between reads of the same file must change what
    the helper returns, also after a bigint schema was remembered."""
    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_700_000_000_000_000_000, 1_700_000_001_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)

    def ts_type():
        try:
            return dict(_read_parquet(spark, path).dtypes)["ts"]
        except AnalysisException:
            return "rejected"

    prev = spark.conf.get(NANOS, None)
    try:
        types = []
        for value in ("false", "true", "false"):
            spark.conf.set(NANOS, value)
            types.append(ts_type())
            assert types[-1] == ts_type(), "a memo hit must agree with the inference"
    finally:
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)
    assert types[1] == "bigint"
    assert types[0] == types[2] != "bigint"


def test_deleted_table_is_forgotten(spark, empty_memo, tmp_path):
    """A table deleted after its scan (a paced replay's scratch copy)
    leaves no memo entry once another table is inferred."""
    import shutil

    for name in ("gone", "kept"):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({"a": [1, 2]}), tmp_path / name / "t.parquet")
    scan(spark, str(tmp_path / "gone"), "t")
    shutil.rmtree(tmp_path / "gone")
    scan(spark, str(tmp_path / "kept"), "t")
    assert list(io._SCHEMAS) == [str(tmp_path / "kept" / "t.parquet")]
