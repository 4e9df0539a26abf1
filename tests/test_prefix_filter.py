"""Prefix-filtered exact Jaccard must be output-identical to the naive
inverted-index join (All-Pairs/PPJoin completeness lemma)."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from projectmapreduce_spark.io import scan
from projectmapreduce_spark.operators.dedup import ngram_jaccard_join, tokens_of
from tests.conftest import SF_SMOKE


def naive_jaccard_join(df, id_col, text_col, threshold, n=1):
    """The reference the operator must equal: every pair of docs that
    shares a token, its intersection counted by a self-join of the
    inverted index — quadratic in each token's posting list."""
    tok = tokens_of(df, id_col, text_col, n)
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = tok.select(F.col("id").alias("id_a"), "token")
    b = tok.select(F.col("id").alias("id_b"), "token")
    inter = (
        a.join(b, on="token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@pytest.mark.parametrize("threshold,n", [(0.5, 3), (0.8, 1), (0.9, 2)])
def test_prefix_filter_exactly_matches_naive(spark, threshold, n):
    d = scan(spark, SF_SMOKE, "documents")
    filt = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_join(d, "doc_id", "text", threshold, n=n).collect()
    }
    naive = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in naive_jaccard_join(d, "doc_id", "text", threshold, n=n).collect()
    }
    assert filt == naive


@contextlib.contextmanager
def _no_broadcast(spark):
    """Broadcast joins off for the block, the path a corpus-sized token
    arrays table takes; the caller's threshold is restored after it."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _pairs(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def test_verify_join_strategies_output_identical(spark):
    """How the per-doc token arrays attach to the candidate pairs
    (broadcast probe or sort-merge join) must be a pure physical
    choice — same pairs, same jaccard (round-4 fix of the unconditional
    broadcast).  Runs at the sf0.01 correctness tier, so this equality
    plus l2b's driver hash-match transitively oracle-checks the
    sort-merge path there."""
    from tests.conftest import SF_CORRECT

    d = scan(spark, SF_CORRECT, "documents")
    planned = _pairs(ngram_jaccard_join(d, "doc_id", "text", 0.8, n=1))
    with _no_broadcast(spark):
        merged = _pairs(ngram_jaccard_join(d, "doc_id", "text", 0.8, n=1))
    assert planned == merged
    assert planned, "fixture must produce at least one duplicate pair"


def test_verify_join_without_broadcast_is_sort_merge(spark):
    """With broadcasts off the arrays table attaches via SortMergeJoin —
    the 100 TB path, where a corpus-sized broadcast would OOM the
    driver.  (Small fixtures may legitimately broadcast by default.)"""
    from projectmapreduce_spark.plans import explain_str

    d = scan(spark, SF_SMOKE, "documents")
    with _no_broadcast(spark):
        s = explain_str(ngram_jaccard_join(d, "doc_id", "text", 0.8, n=1), "simple")
    assert "SortMergeJoin" in s and "Broadcast" not in s, s


def test_prefix_filter_handles_injected_edge_cases(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),       # identical
        (3, "a b c d f"),       # 4/6 = 0.667
        (4, "z"),               # singleton doc
        (5, "z"),               # identical singleton
        (6, ""),                # empty-ish
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in ngram_jaccard_join(df, "doc_id", "text", 0.6).collect()
    }
    want = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in naive_jaccard_join(df, "doc_id", "text", 0.6).collect()
    }
    assert got == want
    assert got[(1, 2)] == 1.0
    assert got[(4, 5)] == 1.0
    assert round(got[(1, 3)], 3) == 0.667
