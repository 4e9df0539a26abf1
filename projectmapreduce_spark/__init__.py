"""projectmapreduce_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
the reference MapReduce project (``nikhil93uf/ProjectMapReduce``; see
SURVEY.md §0 — the reference directory is empty in this environment, so
SURVEY.md §2 is the declared capability contract).

Design rules (SURVEY.md §1.2, §4):

- **DataFrame-first.** Every operator is declared through the DataFrame
  / Spark SQL API so Catalyst + AQE own the physical strategy
  (predicate pushdown, column pruning, broadcast selection, skew
  splitting). RDDs never appear in the hot path.
- **JVM-side expressions.** ``pyspark.sql.functions`` everywhere;
  Python crosses the Arrow boundary only in the explicitly-marked UDF
  surface (``functions.udfs``) and multimodal stubs.
- **Scale-aware.** Small dimensions are broadcast, theta joins are
  bucketed (never naive cross joins), near-dup detection is LSH-blocked,
  and sinks support hive-style partition layout for 100 TB outputs.

Package layout::

    session.py    SparkSession builder (AQE on, UTC timezone)
    pydaemon.py   Python worker daemon (pyspark from the interpreter's
                  install, not Spark's source-only zip)
    io.py         scans & sinks (parquet/csv/json/text, partitioned sink)
    operators/    composite operators (as-of join, theta join, dedup,
                  similarity, sessionization, topk, ...)
    functions/    scalar-function helpers + UDF surface
    queries/      the declared query catalog (driver contract)
    streaming/    Structured Streaming wrappers over the batch operators
    plans/        explain/plan-inspection helpers
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Loaded on first use (PEP 562): ``python -m`` on a submodule such as
    # the worker daemon (``pydaemon``) runs this file first, and it must
    # not import pyspark before the daemon has chosen where pyspark
    # comes from.
    if name == "get_spark":
        from projectmapreduce_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
