#!/usr/bin/env python
"""Shuffle-partition sizing study: measure a heavy sf1 query under the
Spark default (200), the former local pin (32), and the session's
cores, which is both the engine's batch count and the floor of the
bytes-derived count (`session.derive_shuffle_partitions`, 128 MiB
target), and write the SHUFFLE section of SCALING.md.

The derivation is the rule the 100 TB deployment uses instead of any
pinned constant: partitions = clamp(ceil(input_bytes / 128 MiB),
cores, initialPartitionNum-ceiling), installed as BOTH
spark.sql.shuffle.partitions and AQE's initialPartitionNum so the
static plan starts near target size and AQE coalesces per-stage.

`ensure_session_conf` sets the shuffle count to the session's cores at
the top of every declared query, and the query's build already runs
shuffles (its iterations checkpoint eagerly), so each condition wraps
the registry's call to it and sets its own count after it — a
study-only override.

Usage: SPARK_GRAFT_CPUS=<cores> python scripts/scaling_shuffle.py
(needs the sf1 tier from scripts/make_scale_data.py).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from md_sections import replace_section
from projectmapreduce_spark import session as sess
from projectmapreduce_spark.queries import QUERIES, registry
from projectmapreduce_spark.session import derive_shuffle_partitions, scan_size_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BIG = os.path.join(REPO, ".scratch", "sf1_synth")
QUERY = "l17_dedup_clusters"
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def timed(spark, n_parts: int) -> float:
    def ensure_conf_at(s):
        sess.ensure_session_conf(s)
        s.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        return s

    registry.ensure_session_conf = ensure_conf_at
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(n_parts))
    try:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[QUERY](spark, BIG).count()
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        registry.ensure_session_conf = sess.ensure_session_conf
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")


def main() -> int:
    spark = sess.get_spark(app_name="pmr-scaling-shuffle", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")

    in_bytes = scan_size_bytes(spark, [f"{BIG}/documents.parquet"])
    derived = derive_shuffle_partitions(in_bytes, min_partitions=CORES)
    QUERIES[QUERY](spark, BIG).count()  # warm JVM + footers

    conditions = [("spark-default 200", 200), ("former pin 32", 32), (f"session cores {CORES}", CORES)]
    if derived != CORES:
        conditions.append((f"derived {derived}", derived))
    results = {}
    for label, n in conditions:
        results[label] = timed(spark, n)
        print(f"{label}: {results[label]:.1f} s", flush=True)

    GiB = 1024**3
    lines = [
        "## Shuffle-partition sizing (round 4)",
        "",
        "Batch shuffles run at the session's cores: `ensure_session_conf`",
        "sets `spark.sql.shuffle.partitions` to `defaultParallelism`",
        "(cores×1) at the top of every declared query, and AQE coalesces",
        "per stage from there.  Until then a constant 32 was forced on",
        "every session.  Streaming state is never sized by this count: a",
        "stateful operator keeps one state store per shuffle partition, AQE",
        "does not coalesce them, and every micro-batch, even an empty one,",
        "pays one task per store.  The drain harness",
        "(`streaming.core.run_available_now`) therefore sets the count for",
        "each drain to `derive_shuffle_partitions(input bytes,",
        "min_partitions=2)` and restores the session's count after it; a",
        "restart keeps the count recorded in its checkpoint.",
        "",
        "The cores count is the floor of the deployment rule,",
        "`session.derive_shuffle_partitions`: `clamp(ceil(input_bytes /",
        "128 MiB), cores, 200k)`, installed as both the static shuffle",
        "count and AQE's `initialPartitionNum` so AQE coalesces DOWN",
        "from a size-appropriate start.  Worked examples:",
        "",
        "| input | derived partitions |",
        "|---|---|",
        f"| sf1 documents ({in_bytes / 1e6:.0f} MB, {CORES} cores) | {derived} (cores floor) |",
        f"| 1 TiB | {derive_shuffle_partitions(1024 * GiB):,} |",
        f"| 100 TB | {derive_shuffle_partitions(100 * 10**12):,} (ceiling; AQE coalesces per-stage) |",
        "",
        f"Measured on `{QUERY}` at sf1 (min-of-2, warmed `local[{CORES}]`):",
        "",
        "| shuffle.partitions | wall sec |",
        "|---|---|",
    ]
    for label, t in results.items():
        lines.append(f"| {label} | {t:.1f} |")
    lines += [
        "",
        "Reading: at this input size every shuffle partition beyond the",
        "cores floor is per-task scheduler + state overhead (multiplied",
        "by the BSP loop's per-iteration shuffles) with zero spill risk;",
        "the derivation picks the floor locally, ~128 MiB tasks at 1 TiB,",
        "and the AQE-coalescible ceiling at 100 TB — one rule across five",
        "orders of magnitude.  (When regenerating: re-check this paragraph",
        "against the measured table before committing.)",
    ]
    out = os.path.join(REPO, "SCALING.md")
    text = open(out).read() if os.path.exists(out) else "# SCALING\n"
    with open(out, "w") as f:
        f.write(replace_section(text, "SHUFFLE", "\n".join(lines)))
    print("wrote SHUFFLE section")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
