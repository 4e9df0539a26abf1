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
  "queries": {<10 slowest cold>}, "detail": "BENCH_DETAIL.json"}``.

``value`` totals FIRST-run (cold) times — directly comparable with
BENCH_r01/r02 and the BASELINE.md table.  ``value_warm`` is a second
execution of the same plan in the same JVM: codegen, broadcast builds
and Python-worker pools are already hot, so warm numbers isolate
per-byte execution cost.  Queries whose cold time is dominated by
one-time codegen (l2_minhash_lsh's 64-wide min-aggregate,
x6_map_in_arrow's worker spin-up) show a large cold/warm gap —
regression detection should compare warm-to-warm.
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


# ---------------------------------------------------------------------------
# Bench gate (round 9, VERDICT r8 task 4).  The old "<120 s full
# suite" envelope predates the 129-query headline and was crossed by
# host-window drift alone, so the gate is now (a) WARM-total (cold is
# dominated by one-time codegen/worker spin-up — see module docstring)
# and (b) DRIFT-NORMALIZED by the compute-bound sentinel set, the
# five queries BASELINE.md's adjudication method already designates as
# host-speed probes (they stay flat under IO load, so their warm-ratio
# median against the pinned reference isolates host speed from code
# regressions).  verdict = normalized_warm ≤ 0.80 s/query × headline
# size (the committed r8 record reads ~0.60 s/query normalized, so the
# gate trips at a ~1.3× genuine per-byte regression while absorbing
# pure host drift and headline growth).
SENTINEL_WARM_REF = {
    # Pinned from the committed r8 driver-window run (BENCH_DETAIL.json
    # @ c610f3d: 112.4 s cold / 77.4 s warm over 129 queries).
    "m6_word_count": 0.218,
    "l31_bigram_perplexity": 0.952,
    "l2_minhash_lsh": 2.491,
    "l11g_jpeg_decode": 0.801,
    "c18_part_supplier_breadth": 0.488,
}
GATE_WARM_PER_QUERY = 0.80  # normalized seconds per headline query

# Out-of-repo host-speed probe (round 10, ADVICE r9 medium): the five
# sentinels are themselves code under test, so a UNIFORM code
# regression (session conf, codegen, Arrow batch-size change slowing
# everything ~2×) would inflate the sentinel median equally and be
# normalized away as "host drift".  The probe is pure
# hashlib + single-threaded DuckDB over generate_series — zero repo
# code, zero Spark — so it moves ONLY with host speed.  If the
# sentinel median runs ≫ the probe ratio, the slowdown is in the code,
# not the host, and the gate fails regardless of normalization.
#
# Round 11 (VERDICT r10 task 2 / ADVICE r10 medium): the probe gained
# a PARALLEL component.  The single-threaded probe prices disk +
# single-core speed but is BLIND to CPU contention: at loadavg 10 on
# 32 cores the 32-wide Spark sentinels degraded ~1.85× while the
# serial probe read 1.12× — a 4%-margin near-miss from a false
# "uniform code regression" verdict in round 10.  The parallel probe
# saturates every core the same way the sentinels do (N-thread
# hashlib over GIL-releasing 1 MiB buffers + a threads=N DuckDB
# aggregate), so contention inflates it proportionally; the gate
# cross-checks the sentinel median against max(serial, parallel)
# ratio — both host axes priced, neither able to masquerade as code.
HOST_PROBE_REF = 0.39  # best-of-3 seconds, pinned on the round-10 host
# Best-of-3 seconds for the parallel probe, pinned on a QUIET
# round-11 window (loadavg m1 0.81 on 32 cores; four consecutive
# best-of-3 readings 2.45/2.63/2.53/2.45 — stamped in BASELINE.md
# § bench gate).
HOST_PROBE_PAR_REF = 2.45
SENTINEL_VS_PROBE_MAX = 1.6  # sentinel median may exceed probe ratio by ≤1.6×

# Round 12 (VERDICT r11 task 2): the sentinel-vs-probe allowance passed
# round 11 by 0.6% — a genuine ~1.5× uniform regression could hide
# inside any contended window because the allowance is keyed to
# max-of-probes alone.  Second, WINDOW-INDEPENDENT signal: the median
# of per-query warm ratios against the COMMITTED reference window
# (BENCH_REF.json, re-pinned whenever the baseline is re-established),
# normalized by relative probe drift between the two windows.  This is
# BASELINE.md's adjudication method promoted into the verdict itself:
# the median over ~136 headline queries is robust to a handful of
# legitimately changed queries, and probe normalization absorbs host
# drift, so a surviving >1.15× median is a code regression.
PER_QUERY_MEDIAN_MAX = 1.15
PER_QUERY_MIN_COMMON = 20  # skip the check below this overlap
BENCH_REF_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_REF.json"
)


def load_bench_ref() -> dict | None:
    """Committed per-query warm reference window, or None if absent."""
    try:
        with open(BENCH_REF_PATH) as fh:
            ref = json.load(fh)
    except (OSError, ValueError):
        return None
    return ref if isinstance(ref.get("warm"), dict) else None


def _median(vals: list[float]) -> float:
    vs = sorted(vals)
    mid = len(vs) // 2
    return vs[mid] if len(vs) % 2 else (vs[mid - 1] + vs[mid]) / 2


def host_probe() -> float | None:
    """Best-of-3 pure-Python+DuckDB micro-task (~0.4 s/run),
    single-threaded: prices serial CPU + allocator speed only."""
    import hashlib

    try:
        import duckdb
    except ImportError:
        return None

    def one() -> float:
        t0 = time.perf_counter()
        buf = b"x" * 4096
        for _ in range(20000):
            buf = hashlib.md5(buf).digest() * 256
        con = duckdb.connect()
        con.execute("PRAGMA threads=1")
        con.execute(
            "SELECT sum(hash(i)) FROM generate_series(1, 20000000) t(i)"
        ).fetchall()
        con.close()
        return time.perf_counter() - t0

    return min(one() for _ in range(3))


def host_probe_parallel() -> float | None:
    """Best-of-3 ALL-CORE micro-task: N worker threads each md5-hash
    1 MiB buffers (hashlib releases the GIL above 2047 bytes, so the
    threads genuinely occupy N cores) plus a threads=N DuckDB
    aggregate.  Under external CPU contention this degrades like the
    32-wide Spark sentinels — the axis the serial probe cannot see."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    try:
        import duckdb
    except ImportError:
        return None

    cpus = os.cpu_count() or 8

    def hash_task() -> None:
        buf = b"x" * (1 << 20)
        for _ in range(48):
            hashlib.md5(buf).digest()

    def one() -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=cpus) as pool:
            list(pool.map(lambda _: hash_task(), range(cpus)))
        con = duckdb.connect()
        con.execute(f"PRAGMA threads={cpus}")
        con.execute(
            "SELECT sum(hash(i)) FROM generate_series(1, 200000000) t(i)"
        ).fetchall()
        con.close()
        return time.perf_counter() - t0

    return min(one() for _ in range(3))


def gate_verdict(
    warm: dict[str, float],
    total_warm: float,
    probe_sec: float | None = None,
    probe_par_sec: float | None = None,
    disk_mb_s: float | None = None,
    bench_ref: dict | None = None,
) -> dict:
    ratios = sorted(
        warm[q] / ref for q, ref in SENTINEL_WARM_REF.items() if warm.get(q)
    )
    if not ratios:
        return {"verdict": "no_sentinels"}
    med = _median(ratios)
    normalized = total_warm / med if med > 0 else total_warm
    limit = GATE_WARM_PER_QUERY * len(HEADLINE)
    out = {
        "warm_total": round(total_warm, 1),
        "sentinel_median_ratio": round(med, 3),
        "normalized_warm": round(normalized, 1),
        "limit": round(limit, 1),
        "verdict": "pass" if normalized <= limit else "fail",
    }
    # Cross-check the sentinels against the out-of-repo probes: a
    # slow host slows them too; a code regression slows only the
    # sentinels.  The effective ratio is the WORST host axis —
    # max(serial, parallel) — so CPU contention (visible only to the
    # parallel probe) and disk/serial slowness (visible to both) each
    # raise the allowance; probe_ratio floors at 1.0 so a
    # faster-than-calibration host can't manufacture a failure.
    ratios_seen = []
    if probe_sec is not None:
        probe_ratio = probe_sec / HOST_PROBE_REF
        out["host_probe_sec"] = round(probe_sec, 3)
        out["host_probe_ratio"] = round(probe_ratio, 3)
        ratios_seen.append(probe_ratio)
    if probe_par_sec is not None:
        par_ratio = probe_par_sec / HOST_PROBE_PAR_REF
        out["host_probe_par_sec"] = round(probe_par_sec, 3)
        out["host_probe_par_ratio"] = round(par_ratio, 3)
        ratios_seen.append(par_ratio)
    if ratios_seen:
        worst = max(ratios_seen)
        if med > SENTINEL_VS_PROBE_MAX * max(worst, 1.0):
            out["verdict"] = "fail"
            out["fail_reason"] = (
                "sentinel median exceeds both host-probe ratios — uniform "
                "code regression, not host drift"
            )
    # Per-query-median cross-check vs the committed reference window
    # (round 12, VERDICT r11 task 2).  Window-independent: each query's
    # warm time is compared to its own pinned reference, the MEDIAN of
    # those ratios is divided by the probe drift between the two
    # windows, and anything still > PER_QUERY_MEDIAN_MAX fails.  Only
    # the median must clear the bar, so individual slow queries (or a
    # few refactored ones) cannot trip it — but a uniform slowdown of
    # the whole suite cannot hide behind one contended probe reading.
    if bench_ref is None:
        bench_ref = load_bench_ref()
    if bench_ref:
        ref_warm = bench_ref["warm"]
        common = [
            warm[q] / ref_warm[q]
            for q in warm
            if warm.get(q) and ref_warm.get(q)
        ]
        if len(common) >= PER_QUERY_MIN_COMMON:
            pq_med = _median(common)
            now_worst = max(ratios_seen) if ratios_seen else 1.0
            ref_worst = float(bench_ref.get("probe_worst_ratio", 1.0))
            # Relative drift between this window and the pinned one;
            # floored at 1.0 so a faster-than-reference host cannot
            # manufacture a failure.
            drift = max(max(now_worst, 1.0) / max(ref_worst, 1.0), 1.0)
            pq_norm = pq_med / drift
            out["per_query_median_ratio"] = round(pq_med, 3)
            out["per_query_median_normalized"] = round(pq_norm, 3)
            out["per_query_n_common"] = len(common)
            if pq_norm > PER_QUERY_MEDIAN_MAX:
                out["verdict"] = "fail"
                # Appended, so a sentinel-vs-probe reason set above
                # survives when both checks trip.
                reason = (
                    "per-query warm median "
                    f"{pq_med:.2f}x the committed reference window "
                    f"({pq_norm:.2f}x after probe normalization) — "
                    "exceeds the 1.15x allowance; code regression"
                )
                out["fail_reason"] = "; ".join(
                    r for r in (out.get("fail_reason"), reason) if r
                )
    # IO-drift caveat (round 11): sentinel normalization absorbs CPU
    # drift, not IO drift — on a slow-disk window IO-/Python-worker-
    # bound queries run 3-9× while the compute sentinels stay flat,
    # so the NORMALIZED total can fail spuriously (observed this
    # round: disk probe 124 MB/s, normalized 135.6 > 108, per-query
    # median vs the committed window 0.976 — pure host).  Don't flip
    # the verdict (a real IO regression, e.g. a scan suddenly reading
    # every column, must still fail) — flag it for the adjudication
    # method BASELINE.md records.
    if out["verdict"] == "fail" and disk_mb_s is not None and disk_mb_s < 300:
        out["warning"] = (
            f"io_degraded_window: disk probe {disk_mb_s:.0f} MB/s — "
            "adjudicate per-query warm medians vs the committed "
            "BENCH_DETAIL window (BASELINE.md § bench caveat) before "
            "reading this fail as a code regression"
        )
    return out


def machine_condition(sf_dir: str) -> dict:
    """Stamp the host's IO/load weather into the artifact (VERDICT r5
    item 5): rounds 4 and 5 both recorded headline swings of ±40% that
    a rerun on a quiet machine erased entirely.  ``loadavg`` is the
    1/5/15-minute triple; ``disk_mb_s`` is a ~1-second sequential read
    over the sf dir's parquet files (1 MiB chunks, capped at 256 MiB).
    Reading: loadavg[0] ≳ 4 or disk_mb_s ≲ 300 on this host means
    IO-bound queries will read 2–5× slow while compute-bound ones stay
    flat — adjudicate an apparent regression against these fields
    before rerunning (BASELINE.md § bench caveat)."""
    cond: dict = {"loadavg": None, "disk_mb_s": None}
    try:
        cond["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        files = sorted(
            (
                os.path.join(r, f)
                for r, _, fs in os.walk(sf_dir)
                for f in fs
                if f.endswith(".parquet")
            ),
            key=os.path.getsize,
            reverse=True,
        )
        chunk, budget_s, cap = 1 << 20, 1.0, 256 << 20
        read = 0
        t0 = time.perf_counter()
        for path in files:
            with open(path, "rb", buffering=0) as fh:
                while True:
                    buf = fh.read(chunk)
                    if not buf:
                        break
                    read += len(buf)
                    if time.perf_counter() - t0 > budget_s or read >= cap:
                        break
            if time.perf_counter() - t0 > budget_s or read >= cap:
                break
        dt = time.perf_counter() - t0
        if dt > 0 and read:
            cond["disk_mb_s"] = round(read / dt / (1 << 20), 1)
    except OSError:
        pass
    return cond


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    cond = machine_condition(sf_dir)
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

    gate = gate_verdict(
        warm,
        total_warm,
        probe_sec=host_probe(),
        probe_par_sec=host_probe_parallel(),
        disk_mb_s=cond.get("disk_mb_s"),
    )
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
        "machine": cond,
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
        "machine": cond,
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
