"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables (FIXTURES.md) as one parquet file each,
with the fixture schemas, value domains and foreign-key structure:
lineitem -> orders -> customer -> nation -> region, lineitem ->
part/supplier.  Documents carry Zipfian tokens with 2% planted
near-duplicates, as in ``scripts/make_scale_data.py``.

Every value is a counter-based hash of (seed, salt, row id), so the same
seed and scale give byte-identical files on any host, and a different
seed changes every column.  No Spark is needed: generation runs before
the engine starts and is not part of any timed metric.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

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

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJS = ("small", "red", "blue", "hot", "big", "green", "cold", "dim")
_NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "cog", "plate", "washer")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_LANGS = ("en", "fr", "es", "de", "zh")
_FUNCTION_WORDS = ("the", "a", "of", "and", "is", "fast", "big", "small", "slow", "dup", "spark")

# Near-duplicates: doc ids = 7 (mod 50) repeat the token stream of the
# doc 7 before them with the last token replaced.
_DUP_EVERY = 50
_DUP_OFFSET = 7

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (FIXTURES.md row counts,
    linear in ``sf``; documents and embeddings floor at 500 as the
    fixtures do)."""
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, round(10_000 * sf)),
        "customer": max(150, round(150_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


class _Hasher:
    """splitmix64 over (seed, salt, id): uniform 64-bit words per row."""

    def __init__(self, seed: int):
        self.seed = seed

    def bits(self, salt: str, ids: np.ndarray) -> np.ndarray:
        key = np.uint64(zlib.crc32(f"{self.seed}|{salt}".encode()) << 20 ^ (self.seed & 0xFFFFF))
        with np.errstate(over="ignore"):
            z = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + key * np.uint64(
                0xD1B54A32D192ED03
            )
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
        return z & _M64

    def ints(self, salt: str, ids: np.ndarray, m: int) -> np.ndarray:
        """Uniform ints in [0, m)."""
        return (self.bits(salt, ids) % np.uint64(m)).astype(np.int64)

    def unit(self, salt: str, ids: np.ndarray) -> np.ndarray:
        """Uniform floats in [0, 1)."""
        return (self.bits(salt, ids) >> np.uint64(11)).astype(np.float64) * (2.0**-53)


def _pick(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _padded(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()], type=pa.string())


def _days(base: str, days: np.ndarray) -> pa.Array:
    ts = np.datetime64(base, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(ts, type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, sf) as in-memory Arrow tables."""
    h = _Hasher(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    rk = np.arange(5)
    out["region"] = pa.table(
        {"r_regionkey": pa.array(rk, pa.int32()), "r_name": pa.array(_REGIONS, pa.string())}
    )
    nk = np.arange(25)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        }
    )

    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _padded("Supplier#", sk),
            "s_nationkey": pa.array(h.ints("sn", sk, 25), pa.int32()),
            "s_acctbal": pa.array(_cents(h.ints("sb", sk, 1_099_228) / 100.0 - 999.99)),
        }
    )

    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _padded("Customer#", ck),
            "c_nationkey": pa.array(h.ints("cn", ck, 25), pa.int32()),
            "c_acctbal": pa.array(_cents(h.ints("cb", ck, 1_099_170) / 100.0 - 994.28)),
            "c_mktsegment": _pick(_SEGMENTS, h.ints("cm", ck, 5)),
        }
    )

    pk = np.arange(n["part"], dtype=np.int64)
    names = np.char.add(
        np.char.add(np.asarray(_ADJS)[h.ints("pa", pk, 8)], " "),
        np.asarray(_NOUNS)[h.ints("pn", pk, 8)],
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(names.tolist(), pa.string()),
            "p_brand": pa.array([f"Brand#{b + 1}" for b in h.ints("pb", pk, 25).tolist()], pa.string()),
            "p_type": _pick(_TYPES, h.ints("pt", pk, 6)),
            "p_size": pa.array(h.ints("ps", pk, 50) + 1, pa.int32()),
            "p_retailprice": pa.array(_cents(900.0 + h.ints("pr", pk, 100_000) / 100.0)),
        }
    )

    ok = np.arange(n["orders"], dtype=np.int64)
    odays = h.ints("od", ok, 2404)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(h.ints("oc", ok, n["customer"]), pa.int64()),
            "o_orderstatus": _pick(("F", "O", "P"), h.ints("os", ok, 3)),
            "o_totalprice": pa.array(_cents(1000.0 + h.ints("op", ok, 50_000_000) / 100.0)),
            "o_orderdate": _days("1995-01-01", odays),
            "o_orderpriority": _pick(_PRIORITIES, h.ints("opr", ok, 5)),
        }
    )

    rid = np.arange(n["lineitem"], dtype=np.int64)
    lok = h.ints("lo", rid, n["orders"])
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(h.ints("lp", rid, n["part"]), pa.int64()),
            "l_suppkey": pa.array(h.ints("ls", rid, n["supplier"]), pa.int64()),
            "l_linenumber": pa.array(h.ints("ln", rid, 7) + 1, pa.int32()),
            "l_quantity": pa.array((1 + h.ints("lq", rid, 50)).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(900.0 + h.ints("le", rid, 10_000_000) / 100.0)),
            "l_discount": pa.array(h.ints("ld", rid, 11) / 100.0),
            "l_tax": pa.array(h.ints("lt", rid, 9) / 100.0),
            "l_returnflag": _pick(("A", "N", "R"), h.ints("lr", rid, 3)),
            "l_linestatus": _pick(("F", "O"), h.ints("ll", rid, 2)),
            # shipped 1..121 days after its order, as in TPC-H
            "l_shipdate": _days("1995-01-01", odays[lok] + 1 + h.ints("lsd", rid, 121)),
        }
    )

    # events: an append-ordered log over 30 days, ts monotone in event_id
    # (fixed stride plus jitter below the stride), 1.5 users per 100 events.
    ek = np.arange(n["events"], dtype=np.int64)
    stride_us = (30 * 86_400 * 1_000_000) // n["events"]
    jitter = (h.unit("et", ek) * (stride_us - 1)).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + (ek * stride_us + jitter).astype("timedelta64[us]")
    n_users = max(15, n["events"] * 15 // 1000)
    out["events"] = pa.table(
        {
            "event_id": pa.array(ek, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(h.ints("eu", ek, n_users), pa.int64()),
            "event_type": _pick(_EVENT_TYPES, h.ints("ee", ek, 5)),
            "value": pa.array(_cents(0.01 + h.ints("ev", ek, 49_000) / 100.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in h.ints("ep", ek, 100).tolist()], pa.string()),
        }
    )

    out["documents"] = _documents(h, n["documents"])

    vk = np.arange(n["embeddings"], dtype=np.int64)
    dim = 64
    cell = (vk[:, None] * dim + np.arange(dim)[None, :]).ravel()
    vals = ((h.unit("emb", cell) * 2.0 - 1.0) * 0.35).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(vk, pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, len(vals) + 1, dim, dtype=np.int32)), pa.array(vals)
            ),
            "label": pa.array(h.ints("el", vk, 10), pa.int32()),
        }
    )
    return out


def _documents(h: _Hasher, n_docs: int) -> pa.Table:
    dk = np.arange(n_docs, dtype=np.int64)
    is_dup = (dk % _DUP_EVERY == _DUP_OFFSET) & (dk >= _DUP_EVERY)
    base = np.where(is_dup, dk - _DUP_OFFSET, dk)
    n_tok = 10 + h.ints("dn", base, 90)  # 10..99 tokens, as in the fixtures
    doc_of = np.repeat(np.arange(n_docs), n_tok)
    starts = np.cumsum(n_tok) - n_tok
    pos = np.arange(len(doc_of)) - starts[doc_of]
    cell = base[doc_of] * 1024 + pos
    # Zipfian content ids over a vocabulary that grows with the corpus
    # (df(k) ~ 1/k); every 8th draw is a function word.
    vocab = 20 * n_docs
    zipf = np.floor(np.power(float(vocab), h.unit("dz", cell))).astype(np.int64)
    fw = h.ints("dw", cell, len(_FUNCTION_WORDS))
    is_fw = h.ints("df", cell, 8) == 0
    words = np.where(
        is_fw, np.asarray(_FUNCTION_WORDS, dtype=object)[fw], np.char.add("tok", zipf.astype(str)).astype(object)
    )
    last = starts + n_tok - 1
    words[last[is_dup]] = "dupmark"
    texts = [" ".join(words[s : s + k]) for s, k in zip(starts.tolist(), n_tok.tolist())]
    return pa.table(
        {
            "doc_id": pa.array(dk, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(_LANGS, h.ints("dl", dk, 5)),
            "source": pa.array([f"src{s}" for s in h.ints("ds", dk, 20).tolist()], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def dataset_dir(cache_root: str, seed: int, sf: float) -> str:
    # The generator's own source is part of the key, so a cached dataset
    # is never reused after the generator changes.
    with open(__file__, "rb") as f:
        version = zlib.crc32(f.read())
    return os.path.join(cache_root, f"seed{seed}-sf{sf:g}-{version:08x}")


def ensure_dataset(cache_root: str, seed: int, sf: float) -> tuple[str, dict]:
    """Write the dataset for (seed, sf) unless it is already cached.

    Returns the directory and a report with the generation time (0 on a
    cache hit) and rows and bytes per table.
    """
    out = dataset_dir(cache_root, seed, sf)
    t0 = time.perf_counter()
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in build_tables(seed, sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
        os.rename(tmp, out)
    gen_s = time.perf_counter() - t0
    tables = {}
    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        tables[name] = {
            "rows": pq.read_metadata(path).num_rows,
            "bytes": os.path.getsize(path),
        }
    return out, {"gen_s": round(gen_s, 3), "tables": tables}

