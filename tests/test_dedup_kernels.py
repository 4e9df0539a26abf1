"""The per-token kernels of the dedup operators: ``tokens_of``'s
shingles and the sorted-array pair generator shared by MinHash-LSH and
the co-supply graph.  Each is checked against the higher-order-function
formulation it replaced, and the dedup queries' plans are checked for
interpreted lambdas."""

from __future__ import annotations

import inspect
import itertools
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from projectmapreduce_spark.io import scan
from projectmapreduce_spark.operators.dedup import (
    _sorted_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_join,
    tokens_of,
)
from projectmapreduce_spark.plans.inspect import interpreted_expressions
from projectmapreduce_spark.queries import QUERIES
from tests.conftest import SF_CORRECT

# Null, empty and whitespace-only texts; leading/trailing whitespace
# (split yields a leading "" token); every separator of the split
# class; \x0B, which the class does NOT split on; docs with fewer than,
# exactly and more than n tokens for n in {2, 3, 5}; non-ASCII text.
TEXTS = [
    None,
    "",
    " ",
    " \t\n\f\r ",
    "a",
    "a b",
    "a b c",
    "a b c d",
    "a b c d e",
    "a b c d e f g h",
    " lead",
    "trail ",
    "  both  ends  ",
    "tab\tnl\nff\fcr\rend",
    "v\x0btab stays\x0binside one token",
    "\x0b",
    "héllo wörld ñandú 日本語 テキスト",
    "emoji 🙂 and 🙂 again 🙂",
    "rep rep rep rep rep rep rep",
]

LAMBDAS = {"ArrayTransform", "LambdaFunction"}


def _reference_tokens(df, n):
    """The transform-over-sequence shingles ``tokens_of`` built before
    it moved to generated code — kept here only as the reference."""
    arr = F.split(F.col("text"), r"[ \t\n\f\r]+")
    if n > 1:
        shingles = F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.concat_ws(" ", F.slice(arr, i + 1, n)),
        )
        arr = F.when(F.size(arr) >= n, shingles).otherwise(
            F.array().cast("array<string>")
        )
    return df.select(F.col("doc_id").alias("id"), F.explode(arr).alias("token"))


def _multiset(df):
    return Counter((r.id, r.token) for r in df.collect())


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_tokens_of_equals_transform_reference(spark, n):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    ref = _multiset(_reference_tokens(df, n))
    assert _multiset(tokens_of(df, "doc_id", "text", n, distinct=False)) == ref
    assert _multiset(tokens_of(df, "doc_id", "text", n)) == Counter(set(ref))
    # Shingle counts per doc: none for a null text or one with fewer
    # than n tokens; a leading/trailing separator gives an "" token.
    per_doc = Counter(i for i, _ in ref.elements())
    for i, text in enumerate(TEXTS):
        toks = [] if text is None else re.split(r"[ \t\n\f\r]+", text)
        assert per_doc[i] == max(len(toks) - n + 1, 0), (n, text)
    if n == 2:
        assert (TEXTS.index(" lead"), " lead") in ref


@pytest.mark.parametrize("n", [1, 3, 5])
def test_tokens_of_equals_transform_reference_on_corpus(spark, n):
    d = scan(spark, SF_CORRECT, "documents")
    ref = _multiset(_reference_tokens(d, n))
    assert ref
    assert _multiset(tokens_of(d, "doc_id", "text", n, distinct=False)) == ref


def test_sorted_pairs_yields_each_2_subset_once(spark):
    max_bucket = inspect.signature(minhash_lsh_candidates).parameters["max_bucket"].default
    sizes = [0, 1, 2, 3, max_bucket]
    # Bucket k holds k ids in [k * 10**4, (k + 1) * 10**4), so a pair's
    # id names its bucket.
    buckets = {k: [k * 10**4 + 3 * i for i in range(k)] for k in sizes}
    df = spark.createDataFrame([(ids,) for ids in buckets.values()], "ids array<long>")
    pairs = _sorted_pairs(df, "ids", "a", "b").withColumn(
        "k", (F.col("a") / 10**4).cast("int")
    )
    assert not LAMBDAS & set(interpreted_expressions(pairs))
    # The max_bucket bucket has 499,500 pairs: check it by aggregate.
    by_k = (
        pairs.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("a", "b").alias("n_distinct"),
            F.sum((F.col("a") >= F.col("b")).cast("int")).alias("n_unordered"),
        )
        .collect()
    )
    got = {r.k: (r.n, r.n_distinct, r.n_unordered) for r in by_k}
    for k in sizes:
        want = math.comb(k, 2)
        assert got.get(k, (0, 0, 0)) == (want, want, 0), k
    for k in (2, 3):
        rows = [(r.a, r.b) for r in pairs.filter(F.col("k") == k).collect()]
        assert sorted(rows) == list(itertools.combinations(buckets[k], 2))


def test_interpreted_expressions_finds_a_lambda(spark):
    df = spark.range(3).select(F.transform(F.array("id"), lambda x: x + 1).alias("t"))
    assert LAMBDAS <= set(interpreted_expressions(df))


def test_dedup_queries_carry_no_interpreted_lambda(spark):
    plans = {
        q: QUERIES[q](spark, SF_CORRECT)
        for q in ("l2_minhash_lsh", "l19_contamination_check")
    }
    # l17 returns the localCheckpointed component table, whose plan is
    # a scan of the checkpoint; its per-token work is the 3-gram
    # Jaccard edge join it builds first.
    d = scan(spark, SF_CORRECT, "documents")
    plans["l17_dedup_clusters edges"] = ngram_jaccard_join(
        d, "doc_id", "text", threshold=0.5, n=3
    )
    found = {name: LAMBDAS & set(interpreted_expressions(df)) for name, df in plans.items()}
    assert not any(found.values()), found
