#!/usr/bin/env python
"""Measure the engine's codegen working set: how many distinct generated
classes Spark compiles when a set of queries runs in one session.

Spark caches compiled classes in an LRU capped by the static conf
``spark.sql.codegen.cache.maxEntries``; ``session.CODEGEN_CACHE_MAX_ENTRIES``
sizes that cap.  This script builds the session with an effectively
unbounded cache (``--max-entries``), runs every selected query through
``QUERIES[name](spark, sf_dir).toPandas()`` once per pass, and reads
Spark's ``CodegenMetrics`` compile counter around each query.  With an
unbounded cache, pass 1's compile count is the working set; a later
pass compiles only classes whose generated code differs between runs.

Usage:
    python scripts/codegen_working_set.py --sf-dir DIR                  # full catalog
    python scripts/codegen_working_set.py --sf-dir DIR --headline       # bench.py's 136 queries
    python scripts/codegen_working_set.py --sf-dir DIR --passes 2 --max-entries 100 NAME ...

``DIR`` is an input tier directory (``<table>.parquet`` per table); the
working set in ``session.py`` was measured on the sf0.01 tier.

Set ``$SPARK_GRAFT_SCRATCH`` to keep query fixtures out of the repo.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers unpickle the connector classes by reference.
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from projectmapreduce_spark import session as sess  # noqa: E402
from projectmapreduce_spark.queries import QUERIES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="input tier directory")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument(
        "--max-entries",
        type=int,
        default=1 << 20,
        help="codegen cache cap for this session (default: effectively unbounded)",
    )
    ap.add_argument("--headline", action="store_true", help="run bench.py's HEADLINE set")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.headline:
        from bench import HEADLINE

        names = list(HEADLINE)
    else:
        names = args.names or sorted(QUERIES)

    sess.CODEGEN_CACHE_MAX_ENTRIES = args.max_entries
    spark = sess.get_spark(app_name="pmr-codegen-working-set")
    spark.sparkContext.setLogLevel("ERROR")

    per_query: dict[str, list[int]] = {n: [] for n in names}
    totals = []
    failed = []
    for p in range(args.passes):
        t0, c0 = time.perf_counter(), sess.compiled_classes(spark)
        for name in names:
            before = sess.compiled_classes(spark)
            try:
                QUERIES[name](spark, args.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - report, keep measuring
                failed.append(name)
                print(f"[error] pass {p + 1} {name}: {type(e).__name__}: {e}", flush=True)
            per_query[name].append(sess.compiled_classes(spark) - before)
        totals.append(sess.compiled_classes(spark) - c0)
        print(
            f"pass {p + 1}: {totals[-1]} classes compiled, "
            f"{time.perf_counter() - t0:.1f} s wall",
            flush=True,
        )

    print(f"queries: {len(names)}, cache cap: {args.max_entries}")
    print(f"working set (pass 1 compiles): {totals[0]}")
    for p, n in enumerate(totals[1:], start=2):
        recompiling = sorted(q for q, c in per_query.items() if c[p - 1])
        print(f"pass {p} recompiled {n} classes in {len(recompiling)} queries: {' '.join(recompiling)}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
