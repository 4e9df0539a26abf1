"""Query registry: the single source of truth the driver entry points read.

Each declared query is a callable ``(spark, sf_dir) -> DataFrame`` plus
an optional DuckDB oracle SQL string.  Contract rules enforced here by
convention (SURVEY.md §5.1):

- every computed column is aliased identically in Spark and SQL — the
  driver sorts columns by name before hashing;
- every float aggregate is ``round(x, 2)`` (or tighter) on BOTH sides —
  cross-engine summation order differs in the last ulp;
- results are deterministic modulo row order (ties broken by PKs).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from projectmapreduce_spark.session import ensure_session_conf

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Extra metadata per query (survey row id, category) for reporting.
META: dict[str, dict[str, Any]] = {}
# The category tags reports group by (tests/test_coverage.py holds
# every query to them).
CATEGORIES = frozenset(
    "aggregate composite events filter flagship functions io join llm mr "
    "projection setop sort streaming udf window".split()
)


def query(name: str, oracle: str | None = None, survey: str = "", category: str = ""):
    """Decorator registering a declared query under ``name``.

    ``oracle`` is DuckDB SQL over the pre-registered views; ``None``
    marks a rows-only check (non-SQL-expressible op).
    """

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        # ``module`` records where the query is DEFINED (the wrapper
        # itself lives here) — the registry tag driver_sim's
        # --changed-since incremental mode maps git-diff paths onto.
        META[name] = {"survey": survey, "category": category, "module": fn.__module__}
        return wrapped

    return deco
