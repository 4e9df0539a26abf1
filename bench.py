#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, measuring wall
time per query (action = count() over the result, which executes the
full plan without driver-side materialization cost dominating).

Output contract (round-5 fix — the external driver captures only the
LAST ~2000 chars of stdout, so the old single ~5 kB JSON line was
truncated and BENCH_r03/r04 recorded ``parsed: null``):

- one ``{"q": name, "cold": sec, "warm": sec}`` line per query as it
  completes (progress + full per-query record in the captured tail's
  upstream log),
- the FULL per-query detail written to ``BENCH_DETAIL.json`` next to
  this script (the durable artifact),
- the FINAL stdout line is a compact summary kept well under 1900
  chars: ``{"metric": "suite_wall_sec", "value": <cold total>,
  "unit": "sec", "value_warm": <warm total>, "sf": ..,
  "n_headline": .., "n_declared_queries": ..,
  "queries": {<10 slowest cold>}, "machine": {"loadavg": [..]},
  "gate": {"verdict": "unjudged"}, "detail": "BENCH_DETAIL.json"}``.

``value`` totals FIRST-run (cold) times — directly comparable with
BENCH_r01/r02 and the BASELINE.md table.  ``value_warm`` is a second
execution of the same plan in the same JVM: codegen, broadcast builds
and Python-worker pools are already hot, so warm numbers isolate
per-byte execution cost.  Queries whose cold time is dominated by
one-time codegen (l2_minhash_lsh's 64-wide min-aggregate,
x6_map_in_arrow's worker spin-up) show a large cold/warm gap.

The run gives no pass/fail verdict.  Its numbers are wall times from
one window on one host, and that host's speed moves them as much as
the code does, so no single run can tell the two apart.  A change is
judged instead by paired runs of the benchmark in ``perfbench/``:
``python3 perfbench/run.py --workload <w> --seed <n> --seconds 15
--trace 0`` on the parent and on the change, alternating, at least 10
pairs, on seeds not used in development; its passes are timed in CPU
seconds, which host CPU steal does not inflate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from projectmapreduce_spark.queries import QUERIES  # noqa: E402
from projectmapreduce_spark.session import get_spark  # noqa: E402

# Headline set: one representative per category, weighted toward the
# plans whose scaling behavior matters (star join, window, band join,
# as-of, similarity, dedup, sessionization).
HEADLINE = [
    "flagship_pricing_summary",
    "j2_broadcast_dims",
    "j7_band_join",
    "j8_asof_join",
    "j10_star_join",
    "j11_salted_skew_join",
    "a5_rollup",
    "a10_pivot",
    "w1_ranking",
    "w4_range_frame",
    "o4_topk_per_group",
    "t1_tumbling_window",
    "t3_session_window",
    "m6_word_count",
    "m7_inverted_index",
    "l1_exact_dedup",
    "l2_minhash_lsh",
    # round-10: l2c prices the 52-wide partial-agg vote fold + banded
    # Hamming self-join (the newly hash-checked SimHash signature).
    "l2c_simhash",
    "l2d_embedding_neardup",
    "l3_cosine_pairs",
    "l4_topk_nn",
    "l4c_ann_ivf",
    "l8_text_quality",
    "l9_tfidf",
    "l12_embedding_centroids",
    # round-2 additions: bucketed-sink co-located join + training-pipeline verbs
    "s7_bucketed_join",
    "l13_deterministic_split",
    "l14_sequence_packing",
    # round-2 batch 2: composite analytics, repetition/contamination
    # gates, bloom-pruned join.  t7s_stream_stream_join stays OUT of the
    # headline (like l17): a streaming drain times state-store commit
    # machinery (~10 s warm, ~40 s cold at sf0.1), not analytic
    # throughput — it remains fully hash-checked in CORRECTNESS.
    "c1_shipping_priority",
    "c2_regional_revenue",
    "l18_repetition_filter",
    "l19_contamination_check",
    "j12_bloom_pruned_join",
    # round-2 batch 3: Q18 composite, sketch, classifier, fingerprint
    "c3_large_order_customers",
    "a12_count_min_sketch",
    "l21_quality_classifier",
    "l22_doc_fingerprint",
    # round-2 batch 4: context chunking + corpus bigram stats
    "l24_context_chunking",
    "l25_ngram_stats",
    # round-2 batch 5: BM25, int8 quantization, Q7/Q17 composites,
    # small-file compaction.  m11_triangle_count stays OUT (precedent:
    # l17): the sf0.1 co-supply graph is near-complete (1k suppliers,
    # ~every pair co-occurs), so triangle counting measures a
    # pathological dense-graph edge case (~20 s), not the operator's
    # sparse-graph scaling story — which tests pin instead.
    "l26_bm25_scoring",
    "l27_quantized_dot",
    "c5_volume_shipping",
    "c6_small_qty_revenue",
    "s14_compaction",
    # round-2 batch 6: Arrow surface, data card, snapshot read.
    # l28_semantic_dedup stays OUT: its cost is the k-means fit (same
    # profile as l4c_ann_ivf, already in the headline) — adding it
    # would double-count the fit without new plan coverage.
    # l4d_ann_ivf_int8 (round 3) stays OUT for the same reason — it
    # shares l4c's fit and lists; its delta (int8 shortlist + 1% float
    # fetch) is measured by scripts/ann_recall.py (4.0 s vs 12.8 s at
    # sf0.1) and recall-floor-pinned in tests.
    "x6_map_in_arrow",
    "l29_data_card",
    "s15_snapshot_read",
    "c7_returned_items",
    # round-2 batch 8: incremental agg state, dirty-CSV tolerance,
    # variant paths.  l30_corpus_funnel stays OUT: its cost is the
    # exact near-dedup pair join (l2b's output-bound profile,
    # documented at the l17 exclusion).
    "a14_incremental_agg",
    "s16_malformed_tolerance",
    "f9_variant_funcs",
    # round-2 batch 9: null-safe join, recurrence/time-weighted
    # windows, pagination, bitwise, bigram surprisal.
    "j13_null_safe_join",
    "w8_ordered_fold_ema",
    "w9_time_weighted_avg",
    "o6_pagination",
    "f10_bitwise_funcs",
    "l31_bigram_perplexity",
    # round-3 batch: TPC-H Q2/Q21/Q22/Q15/Q11 composite shapes, URL
    # family, hierarchical rollup, per-source cap.  t9s_continuous_
    # aggregate stays OUT (precedent: t7s — a streaming drain times
    # state-store/sink machinery, ~6 s at sf0.01; fully hash-checked
    # in CORRECTNESS).
    "c8_min_cost_supplier",
    "c9_waiting_orders",
    "c10_inactive_high_balance",
    "c11_top_revenue_supplier",
    "c12_important_part_share",
    "f11_url_funcs",
    "t9_hierarchical_rollup",
    "l32_source_cap",
    # round-3 batch 2: the remaining classic TPC-H composite shapes
    # (Q8, Q9, Q12, Q13, Q14, Q16, Q19 analogs).
    "c13_market_share",
    "c14_nation_profit",
    "c15_late_priority",
    "c16_customer_distribution",
    "c17_promo_revenue",
    "c18_part_supplier_breadth",
    "c19_bracket_revenue",
    # round-3 batch 3: reproducible second moments, digest family,
    # manual gaps-and-islands.
    "a15_stats_moments",
    "t10_gaps_islands",
    "f12_digest_funcs",
    # round-4 batch: the de-single-partitioned global rank pair (o1's
    # range-shuffle zipWithIndex shape and l20's epoch materialize are
    # now the 100 TB path, so their cost belongs in the headline),
    # keyset pagination, and the PNG real-decode path.
    "o1_global_sort",
    "l20_epoch_shuffle",
    "o6b_keyset_pagination",
    "l11f_png_decode",
    # round-4 batch 2: the lossy-codec decode path (bounded 500-doc
    # slice — the per-block Python DCT is the documented heavy kernel)
    "l11g_jpeg_decode",
    # round-5 batch: the last two TPC-H composite shapes (Q4, Q20) and
    # the capped+DOULION triangle estimate — the production dense-graph
    # path (m11's exact count stays out, per its sf0.1 exclusion note).
    # l4f_ann_pq stays OUT (precedent: l4d/l4e): its cost is the PQ
    # codebook fit — the same corpus-independent-fit profile l4c
    # already prices in the headline; its recall/compression frontier
    # is measured in tests/test_operators.py and the l4f docstring.
    "c20_priority_check",
    "c21_concentrated_suppliers",
    "m11b_triangle_estimate",
    # round-6 batch: the engine-exact HLL register sketch (constant
    # state per group, the A4/A13 scale story with a hash oracle) and
    # the DPP join (partitioned write + runtime-pruned scan — the
    # 100 TB lake's headline scan-reduction mechanism, write cost
    # included like s14/s15).  t7o_stream_stream_left_outer stays OUT
    # (precedent: t7s/t9s — a paced streaming drain times state-store
    # commit machinery, ~53 s at sf0.01; fully hash-checked in
    # CORRECTNESS).
    "a4b_hll_registers",
    "s17_dpp_join",
    # round-6 batch 2: the MPEG frame walker (CRC-validated sync walk
    # over every document's synthesized stream — prices the container
    # probe Python surface; l11i_mp4_box_probe shares the exact
    # mapInPandas profile and stays out, like l4d vs l4c).
    "l11h_mpeg_frame_probe",
    # round-6 batch 3: the two remaining engine-exact sketch tiers —
    # persisted HLL register union (write + read-back + cell-wise-MAX
    # merge is the priced path) and the two-pass histogram quantile.
    "a13b_hll_register_union",
    "a11b_histogram_quantiles",
    # round-6 batch 4: the three new query surfaces (recursive CTE's
    # per-iteration UnionLoop overhead is the honest cost of recursion
    # on a tiny frontier — ~1 s/level; pipe syntax prices the third API
    # surface at its classic-SQL-identical plan) plus RRF fusion and
    # stats-manifest file skipping (write + footer manifest + pruned
    # read priced like s14/s15).
    "c22_recursive_hierarchy",
    "c23_pipe_syntax",
    "l33_rrf_fusion",
    "s18_stats_file_skipping",
    # round-6 batch 5: gap-fill resample (grid explode + ffill window —
    # output tracks users × horizon, the knob the docstring documents)
    # and the SCD2 build + point-in-time join (two history folds, a
    # persisted dim, and the temporal probe — priced end-to-end).
    "t11_gapfill_resample",
    "s19_scd2_pit_join",
    # round-6 batch 6: the Python DataSource connector round-trip —
    # prices the per-row Python decode surface (encode kernel + 8-way
    # partition-per-file read), the honest cost of a pure-Python
    # connector vs a JVM source.
    "s20_python_datasource",
    "s22_cbo_join_reorder",
    "w10_pattern_detect",
    "w11_funnel_analysis",
    "a16_kmv_distinct",
    "l34_weighted_sample",
    "l35_dataset_split",
    "l36_source_overlap_matrix",
    "x8_polymorphic_udtf",
    "f15_fuzzy_match",
    "l30_corpus_funnel",
    # round-6 batch 7: new function-family surfaces (collations, NTZ)
    # plus the pivot-inverse and the Catalyst-inlined SQL UDF — all
    # codegen-bound, priced like the f9-f12 families.  m9b stays OUT
    # (precedent m9: counters surface, its cost is the lineitem scan
    # already priced elsewhere).
    "f13_collation_funcs",
    "f14_timestamp_ntz",
    "a10b_unpivot",
    "x7_sql_udf",
    # round-6 batch 8: the decorrelated LATERAL and parameterized-SQL
    # surfaces (both plan to existing machinery; priced like c4)
    "c24_lateral_topk",
    "c25_parameterized_sql",
    # round-8 batch: the DataSource WRITER round-trip (prices the
    # staged-rename commit path + Arrow encode, the write twin of s20)
    # and the session-variable EXECUTE IMMEDIATE surface (plans like
    # c25 — parameterization changes composition, not the plan).
    # s24/t12 stay OUT (precedent t7s: streaming drains time
    # state-store/sink machinery, fully hash-checked in CORRECTNESS).
    "s23_datasource_writer",
    "c26_session_variables",
    # s25 prices the pushdown path: the Arrow mask halves what crosses
    # the Python->JVM boundary on a selective scan.
    "s25_datasource_pushdown",
    # round-8 batch 2: the scripting loop prices 4 sequential aggregate
    # passes (driver control flow over scalars); f9b prices the variant
    # parquet round-trip + typed path extraction; s26 the _metadata
    # audit scan; x9 the Arrow-batched scalar-UDF boundary.  t14 stays
    # OUT (streaming-drain precedent).
    "c27_sql_scripting",
    "f9b_variant_shred",
    "s26_metadata_columns",
    "x9_arrow_udf",
    # round-8 batch 3: the native top-k sketch lifecycle (a17), the
    # parse-time name binding (c28 — plans identically to the literal
    # query), the XML extractor family (f17 — codegen projection like
    # f7/f9), and the iterator-form pandas UDF (x10 — prices the
    # amortized-init Arrow loop against x2's per-batch re-entry).
    "a17_approx_top_k",
    "c28_identifier_clause",
    "f17_xml_funcs",
    "x10_iter_pandas_udf",
    # round-8 batch 4: the inlined SQL table function (prices the
    # call-boundary inlining against the literal query), the
    # pandas-on-Spark surface (same Catalyst plan, different client),
    # and the SQL:2023 listagg ordered aggregate.
    "x11_sql_table_function",
    "c29_pandas_on_spark",
    "a8b_listagg",
    # round-8 batch 5: the bloom-footer write + point-predicate read
    # (prices the no-dictionary key column) and the inferred-key
    # aggregate (plans identically to the explicit list).
    "s27_parquet_bloom",
    "c30_group_by_all",
    # x12 prices the zero-pandas grouped-map boundary against x3/x6.
    "x12_apply_in_arrow",
    # s28 prices the whole-file ingest + real PNG decode round-trip.
    "s28_binary_file_scan",
    # m12 prices the ordered-streaming alternative to grouped maps.
    "m12_secondary_sort",
    # round-9: m10b prices the iterative graph loop (4 × join+agg over
    # once-partitioned inputs + per-round localCheckpoint) — the first
    # PageRank in the headline; the float m10 stays out (rows-only,
    # identical plan shape, convergence pinned in tests).
    "m10b_pagerank_exact",
    # f16 prices the ANSI try_* projection (codegen class, like f10).
    "f16_try_funcs",
    # round-10: a18 prices the exact per-group sort (median) + top-1
    # frequency (mode); a19 prices the fixed-4KB bitmap-segment agg.
    "a18_mode_median",
    "a19_bitmap_distinct",
    # c31 prices the lateral-alias aggregate (one hash agg, c30 class).
    "c31_lateral_alias",
    # round-11: c32 prices the hint-forced SMJ (two sort-shuffles the
    # unhinted broadcast plan avoids — the deliberate cost of plan
    # control, not a regression).
    "c32_query_hints",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    machine = {"loadavg": [round(x, 2) for x in os.getloadavg()]}
    spark = get_spark(app_name="pmr-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch overheads.
    QUERIES["flagship_pricing_summary"](spark, sf_dir).count()

    times: dict[str, float] = {}
    warm: dict[str, float] = {}
    total = total_warm = 0.0
    for name in HEADLINE:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        times[name] = round(dt, 3)
        total += dt
        # Second execution of the SAME plan in the same JVM: codegen
        # cache, broadcast relations and Python worker pools are hot.
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        warm[name] = round(dt, 3)
        total_warm += dt
        # Per-query progress line — NOT the final summary.  The full
        # record also lands in BENCH_DETAIL.json below.
        print(json.dumps({"q": name, "cold": times[name], "warm": warm[name]}))
        sys.stdout.flush()

    # One run cannot tell the code's speed from the host's (module
    # docstring), so it states no verdict.
    gate = {"verdict": "unjudged"}
    detail = {
        "metric": "suite_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "queries_warm": warm,
        "value_warm": round(total_warm, 3),
        "n_headline": len(HEADLINE),
        "n_declared_queries": len(QUERIES),
        "machine": machine,
        "gate": gate,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    # FINAL line: compact summary the driver's 2000-char tail capture
    # always parses whole.  `queries` carries only the 10 slowest cold
    # queries (the regression-watch set); the complete dict is in
    # BENCH_DETAIL.json.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    summary = {
        "metric": "suite_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "value_warm": round(total_warm, 3),
        "sf": sf,
        "n_headline": len(HEADLINE),
        "n_declared_queries": len(QUERIES),
        "queries": slowest,
        "machine": machine,
        "gate": gate,
        "detail": "BENCH_DETAIL.json",
    }
    # Shrink, never abort (ADVICE r5): if query-name growth ever pushes
    # the line over the driver's ~2000-char tail capture, drop entries
    # from the slowest-queries dict until it fits — the full dict is
    # already durable in BENCH_DETAIL.json.
    line = json.dumps(summary)
    while len(line) >= 1900 and summary["queries"]:
        summary["queries"].pop(next(reversed(summary["queries"])))
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
