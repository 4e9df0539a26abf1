"""Benchmark workloads: a fixed query list and input scale each.

Every query is called through the public registry,
``QUERIES[name](spark, data_dir)``, on inputs ``gen.py`` writes from the
run's seed.  Queries without a DuckDB oracle are rows-only: they must
return the same rows on every pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_sql",
            sf=0.02,
            queries=(
                "flagship_pricing_summary",
                "c1_shipping_priority",
                "j10_star_join",
                "w1_ranking",
                "o1_global_sort",
            ),
            why=(
                "JVM scan, join, aggregate, window and sort with no Python "
                "workers, streaming or eager build actions: the control "
                "for changes to those layers"
            ),
        ),
        Workload(
            name="pipeline",
            sf=0.01,
            queries=(
                "l2_minhash_lsh",
                "s20_python_datasource",
                "t5b_stream_dedup_keys",
            ),
            why=(
                "MinHash dedup operators, the Python DataSource with its "
                "fixture writes, and a stateful streaming drain: the layers "
                "olap_sql never touches"
            ),
        ),
    )
}

# Catalog queries that exercise these workloads' layers but are not run,
# and why.  A run has about a minute, of which the engine set-up takes
# 10-13 s and the cold pass 10-25 s, so each workload keeps a few queries.
_BUDGET = "keeps the run inside its time budget"
DROPPED = {
    **{q: f"olap_sql: {_BUDGET}" for q in ("c9_waiting_orders", "c13_market_share", "j11_salted_skew_join")},
    **{
        q: f"pipeline: {_BUDGET}"
        for q in (
            "l1_exact_dedup",
            "l2c_simhash",
            "l3_cosine_pairs",
            "l4c_ann_ivf",
            "l26_bm25_scoring",
            "m10b_pagerank_exact",
            "m11b_triangle_estimate",
            "x6_map_in_arrow",
            "x8_polymorphic_udtf",
            "x9_arrow_udf",
            "x12_apply_in_arrow",
            "l11g_jpeg_decode",
            "s7_bucketed_join",
            "s14_compaction",
            "s23_datasource_writer",
            "t1s_stream_tumbling",
            "t3s_stream_session",
        )
    },
    "t13_agg_after_agg": "its paced replay writes under /tmp, outside the run directory",
}
