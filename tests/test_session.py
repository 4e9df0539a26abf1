"""Session-level confs, and work counters that host weather cannot move."""

from __future__ import annotations

import hashlib

import pytest

from projectmapreduce_spark.queries import QUERIES
from projectmapreduce_spark.session import compiled_classes
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.oracle_utils import _canon_frame

SHUFFLE = "spark.sql.shuffle.partitions"

# The olap_sql benchmark workload: together they compile more generated
# classes than Spark's default codegen cache (100 entries) holds.
OLAP_QUERIES = (
    "flagship_pricing_summary",
    "c1_shipping_priority",
    "j10_star_join",
    "w1_ranking",
    "o1_global_sort",
)


def test_warm_pass_recompiles_no_generated_classes(spark):
    """A second pass over the same queries finds every generated class
    in the codegen cache (session.CODEGEN_CACHE_MAX_ENTRIES); under
    Spark's default cap of 100 the five queries evict each other and
    every warm pass recompiles classes it compiled a pass earlier."""
    counts = []
    for _ in range(2):
        before = compiled_classes(spark)
        for name in OLAP_QUERIES:
            QUERIES[name](spark, SF_SMOKE).toPandas()
        counts.append(compiled_classes(spark) - before)
    assert counts[1] == 0, f"compiled per pass: {counts}"


def test_declared_query_sizes_shuffles_to_session_cores(spark):
    """A driver-built session may carry any shuffle count (Spark's
    default is 200); building a declared query sets it to the session's
    parallelism, one reduce partition per task slot."""
    before = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "200")
    try:
        QUERIES["flagship_pricing_summary"](spark, SF_SMOKE)
        assert spark.conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(SHUFFLE, before)


@pytest.mark.parametrize("name", OLAP_QUERIES + ("l2_minhash_lsh", "a13_hll_sketch_union"))
def test_results_do_not_depend_on_shuffle_count(spark, name):
    """The same values at the session's shuffle count and at 7, an odd
    count no local tier runs at.  The count is set after the build (which
    resets it) and before the action, so every exchange the action plans
    uses it.  l2 and a13 are rows-only (no DuckDB oracle), so this is
    their value check across partition counts."""

    def digest(partitions: str | None) -> str:
        df = QUERIES[name](spark, SF_CORRECT)
        if partitions is not None:
            spark.conf.set(SHUFFLE, partitions)
        return hashlib.sha256(repr(_canon_frame(df.toPandas())).encode()).hexdigest()

    before = spark.conf.get(SHUFFLE)
    try:
        assert digest(None) == digest("7")
    finally:
        spark.conf.set(SHUFFLE, before)
