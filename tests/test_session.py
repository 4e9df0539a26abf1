"""Session-level work counters that host weather cannot move."""

from __future__ import annotations

from projectmapreduce_spark.queries import QUERIES
from projectmapreduce_spark.session import compiled_classes
from tests.conftest import SF_SMOKE

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
