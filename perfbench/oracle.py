"""Result digests and the DuckDB oracle.

A result is reduced to a digest: sorted column names, the pandas dtype
family of each column, the row count and a SHA-256 over the canonical
rows of ``tests/oracle_utils``.  Two digests are equal exactly when the
repository's oracle check (``oracle_utils.compare``) would pass.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_utils import _canon_frame, dtype_families


def digest(pdf) -> dict:
    rows = _canon_frame(pdf)
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    fam = dtype_families(pdf)
    return {
        "columns": sorted(pdf.columns),
        "families": {c: fam[c] for c in sorted(fam)},
        "rows": len(rows),
        "sha256": h.hexdigest(),
    }


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they match."""
    for key in ("columns", "rows", "families", "sha256"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r}, want {want[key]!r}"
    return None


def oracle_digests(data_dir: str, names: list[str], sql: dict[str, str], threads: int) -> dict:
    """DuckDB digests for ``names`` over the tables in ``data_dir``.

    Cached in ``data_dir/oracle.json``, so each dataset is computed once.
    """
    import duckdb

    path = os.path.join(data_dir, "oracle.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    todo = [n for n in names if n not in cached]
    if todo:
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={int(threads)}")
            for t in sorted(f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            for n in todo:
                cached[n] = digest(con.execute(sql[n]).fetchdf())
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n] for n in names}
