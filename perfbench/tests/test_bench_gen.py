"""The seeded input generator: determinism and the fixture contract."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

SF = 0.001


def _write(root, seed):
    d, report = gen.ensure_dataset(str(root), seed, SF)
    return d, report


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, _ = _write(tmp_path / "a", 5)
    b, _ = _write(tmp_path / "b", 5)
    for t in gen.TABLES:
        with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
            assert fa.read() == fb.read(), t


def test_seed_changes_the_data(tmp_path):
    a = gen.build_tables(1, SF)
    b = gen.build_tables(2, SF)
    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[t].equals(b[t]), t
    assert a["region"].equals(b["region"]) and a["nation"].equals(b["nation"])


def test_cached_dataset_is_reused(tmp_path):
    d, first = _write(tmp_path, 3)
    stamp = os.path.getmtime(os.path.join(d, "lineitem.parquet"))
    d2, second = _write(tmp_path, 3)
    assert d2 == d and os.path.getmtime(os.path.join(d, "lineitem.parquet")) == stamp
    assert second["tables"] == first["tables"]
    assert second["tables"]["lineitem"]["rows"] == gen.row_counts(SF)["lineitem"]


def test_fixture_schemas():
    t = gen.build_tables(7, SF)
    ts = pa.timestamp("us")
    expect = {
        "region": [pa.int32(), pa.string()],
        "nation": [pa.int32(), pa.string(), pa.int32()],
        "supplier": [pa.int64(), pa.string(), pa.int32(), pa.float64()],
        "customer": [pa.int64(), pa.string(), pa.int32(), pa.float64(), pa.string()],
        "part": [pa.int64(), pa.string(), pa.string(), pa.string(), pa.int32(), pa.float64()],
        "orders": [pa.int64(), pa.int64(), pa.string(), pa.float64(), ts, pa.string()],
        "lineitem": [pa.int64()] * 3 + [pa.int32()] + [pa.float64()] * 4 + [pa.string()] * 2 + [ts],
        "events": [pa.int64(), ts, pa.int64(), pa.string(), pa.float64(), pa.string()],
        "documents": [pa.int64(), pa.string(), pa.string(), pa.string(), pa.int64()],
        "embeddings": [pa.int64(), pa.list_(pa.float32()), pa.int32()],
    }
    for name, types in expect.items():
        assert t[name].schema.types == types, name


def test_keys_and_domains():
    t = {k: v.to_pandas() for k, v in gen.build_tables(11, SF).items()}
    li, o = t["lineitem"], t["orders"]
    assert li.l_orderkey.isin(o.o_orderkey).all()
    assert li.l_partkey.isin(t["part"].p_partkey).all()
    assert li.l_suppkey.isin(t["supplier"].s_suppkey).all()
    assert o.o_custkey.isin(t["customer"].c_custkey).all()
    ship = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    assert (ship.l_shipdate > ship.o_orderdate).all()
    assert li.l_discount.between(0, 0.10).all() and li.l_quantity.between(1, 50).all()
    ev = t["events"]
    assert ev.ts.is_monotonic_increasing
    assert set(ev.event_type) == {"click", "purchase", "error", "signup", "view"}
    docs = t["documents"]
    assert (docs.n_chars == docs.text.str.len()).all()
    dups = docs[(docs.doc_id % 50 == 7) & (docs.doc_id >= 50)]
    assert len(dups) > 0 and dups.text.str.endswith("dupmark").all()
    dims = {len(v) for v in t["embeddings"].embedding}
    assert dims == {64}
    assert np.abs(np.concatenate(t["embeddings"].embedding.to_list())).max() <= 0.35


def test_written_tables_read_back(tmp_path):
    d, report = _write(tmp_path, 9)
    for name in gen.TABLES:
        rows = pq.read_metadata(os.path.join(d, f"{name}.parquet")).num_rows
        assert rows == report["tables"][name]["rows"] == gen.row_counts(SF)[name]
