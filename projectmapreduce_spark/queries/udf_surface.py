"""UDF / UDAF / UDTF surface (SURVEY.md §2.12, X1–X4).

The deliberate slow path: every query here crosses the executor→Python
boundary.  X1 is the row-at-a-time anti-pattern (documented, measured
~10–100× slower than X2 at scale); X2/X3 are Arrow-batched.  Each UDF
is deterministic and SQL-reproducible so even the Python boundary gets
a full value-hash check.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from projectmapreduce_spark.functions import dround
from projectmapreduce_spark.io import scan
from projectmapreduce_spark.queries.registry import query


@query(
    "x1_scalar_udf",
    oracle="""
SELECT o_orderkey,
       length(o_orderpriority) + (o_orderkey % 10) AS mixed_score
FROM orders
WHERE o_orderkey < 2000
""",
    survey="X1",
    category="udf",
)
def x1_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the documented perf cliff — one
    serialize/deserialize per ROW; kept off every hot path and here
    only to prove the capability)."""

    # No type hints: on a plain @F.udf pyspark tries to infer an Arrow
    # eval type from them and warns when it cannot.
    @F.udf(returnType=LongType())
    def mixed_score(priority, key):
        return len(priority) + (key % 10)

    o = scan(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey", mixed_score("o_orderpriority", "o_orderkey").alias("mixed_score")
    )


@query(
    "x2_pandas_udf",
    oracle="""
SELECT vec_id,
       round(sqrt(list_dot_product(list_transform(embedding, x -> x::DOUBLE),
                                   list_transform(embedding, x -> x::DOUBLE))), 6) AS l2_norm
FROM embeddings
""",
    survey="X2",
    category="udf",
)
def x2_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: L2 norm per embedding — one Arrow
    batch per serialization, NumPy math inside (this is the shape real
    embedding kernels take when JVM expressions can't express them)."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.apply(lambda v: float(np.sqrt(np.dot(np.asarray(v, dtype="float64"),
                                                         np.asarray(v, dtype="float64")))))

    e = scan(spark, sf_dir, "embeddings")
    return e.select("vec_id", dround(l2_norm("embedding"), 6).alias("l2_norm"))


@query(
    "x3_grouped_udaf",
    oracle="""
SELECT label,
       count(*)                                   AS n_vecs,
       round(avg(embedding[1]::DOUBLE), 6)        AS mean_first_dim,
       round(min(embedding[1]::DOUBLE), 6)        AS min_first_dim
FROM embeddings
GROUP BY label
""",
    survey="X3",
    category="udf",
)
def x3_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pandas UDAF via ``applyInPandas``: whole group → one
    pandas frame → one result row.  At 100 TB group sizes must be
    bounded (a single group materializes in one worker's memory) —
    which is why the relational form is preferred when expressible."""

    def per_label(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf["embedding"].apply(lambda v: float(v[0]))
        return pd.DataFrame(
            {
                "label": [pdf["label"].iloc[0]],
                "n_vecs": [len(pdf)],
                "mean_first_dim": [first.mean()],
                "min_first_dim": [first.min()],
            }
        )

    # Round-11 note: a guide-§4.1 projection (extract embedding[0]
    # JVM-side so only one double crosses the groupBy shuffle and the
    # Arrow boundary — measured 2× warm at sf0.1) was tried and
    # REVERTED: shrinking the shuffle payload ~64× changes AQE's
    # post-shuffle coalescing, which permutes each group's
    # row-arrival order, and the pandas float mean is
    # summation-order-sensitive — 3 of 200 groups drifted 1 ulp at
    # round(6) against the DuckDB oracle on the skew sf1 tier.  The
    # whole-array form is the one whose fold order empirically
    # matches the oracle on every tier; result identity outranks the
    # boundary-bytes win here (OPTIMIZATION_r11.md).
    e = scan(spark, sf_dir, "embeddings")
    out = e.groupBy("label").applyInPandas(
        per_label, "label int, n_vecs long, mean_first_dim double, min_first_dim double"
    )
    return out.select(
        "label",
        "n_vecs",
        dround("mean_first_dim", 6).alias("mean_first_dim"),
        dround("min_first_dim", 6).alias("min_first_dim"),
    )


@query(
    "x4_udtf_explode",
    oracle="""
SELECT doc_id,
       generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
       unnest(string_split(text, ' '))                     AS token
FROM documents
WHERE doc_id < 20
""",
    survey="X4",
    category="udf",
)
def x4_udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function (1 row → N rows) surface via posexplode — the
    declarative UDTF form; arbitrary-Python generators take the
    ``mapInPandas`` path (M2) with the same contract."""
    d = scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))


@query(
    "x4b_python_udtf",
    oracle="""
SELECT doc_id,
       generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
       unnest(string_split(text, ' '))                     AS token
FROM documents
WHERE doc_id < 20
""",
    survey="X4",
    category="udf",
)
def x4b_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Python UDTF (Spark 4 ``@udtf`` class): a per-row generator
    yielding N output rows, invoked via SQL LATERAL — the
    arbitrary-Python table function x4 expresses declaratively.
    Hash-matches the same oracle as x4, proving the two paths agree.
    Row-at-a-time Python: keep off hot paths (the declarative
    posexplode form is the 100 TB shape)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class SplitTokens:
        def eval(self, doc_id: int, text: str):
            # NULL doc → no rows, matching the oracle's unnest(NULL)
            # and x4's explode(NULL) (hostile-domain sweep)
            if text is None:
                return
            for i, t in enumerate(text.split(" ")):
                yield doc_id, i, t

    spark.udtf.register("pmr_split_tokens", SplitTokens)
    scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "pmr_docs_udtf"
    )
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.token "
        "FROM pmr_docs_udtf d, LATERAL pmr_split_tokens(d.doc_id, d.text) s"
    )


@query(
    "x5_cogroup",
    oracle="""
WITH o AS (
  SELECT o_custkey AS key, count(*)::BIGINT AS n_orders,
         sum(o_totalprice) AS spend
  FROM orders GROUP BY 1
),
e AS (
  SELECT user_id AS key, count(*)::BIGINT AS n_events,
         sum(value) AS val
  FROM events GROUP BY 1
)
SELECT coalesce(o.key, e.key) AS key,
       coalesce(n_orders, 0)::BIGINT   AS n_orders,
       round(coalesce(spend, 0.0), 2)  AS total_spend,
       coalesce(n_events, 0)::BIGINT   AS n_events,
       round(coalesce(val, 0.0), 2)    AS total_value
FROM o FULL OUTER JOIN e ON o.key = e.key
""",
    survey="X5,J3",
    category="udf",
)
def x5_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: cogroup + applyInPandas — TWO grouped DataFrames delivered
    to one Python function per key (the MR-era `cogroup` primitive,
    and the shape custom cross-dataset per-entity logic takes when it
    can't be a join: sessionizing one stream against another's state,
    per-user feature merges, ...).  Each side shuffles once on its
    key; Arrow ships both groups to Python together; an absent side
    arrives as an empty frame (full-outer semantics).  The pandas body
    returns raw sums; rounding happens JVM-side via dround so the
    Python boundary adds no float-discipline exceptions.  At 100 TB
    the per-key pair of groups must fit one worker — bound group sizes
    (here: one customer's orders/events), or use the relational form."""

    def merge(key, o_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [key[0]],
                "n_orders": [len(o_pdf)],
                "spend": [float(o_pdf["o_totalprice"].sum()) if len(o_pdf) else 0.0],
                "n_events": [len(e_pdf)],
                "val": [float(e_pdf["value"].sum()) if len(e_pdf) else 0.0],
            }
        )

    o = scan(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    e = scan(spark, sf_dir, "events").select("user_id", "value")
    out = (
        o.groupBy("o_custkey")
        .cogroup(e.groupBy("user_id"))
        .applyInPandas(merge, "key long, n_orders long, spend double, n_events long, val double")
    )
    return out.select(
        "key",
        "n_orders",
        dround("spend", 2).alias("total_spend"),
        "n_events",
        dround("val", 2).alias("total_value"),
    )


@query(
    "x6_map_in_arrow",
    oracle="""
SELECT doc_id,
       length(text)::BIGINT AS n_chars_py,
       len(string_split_regex(trim(text, ' '), '\\s+'))::BIGINT AS n_tokens_py
FROM documents
""",
    survey="X6",
    category="udf",
)
def x6_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: ``mapInArrow`` — the zero-copy batch surface below
    ``mapInPandas``: the Python fn receives raw ``pyarrow.RecordBatch``
    objects (no pandas conversion), so columnar kernels (pc.*) run on
    Arrow buffers directly.  The right tier for per-batch columnar
    work where even the pandas Block-manager conversion is measurable
    overhead.  Demo kernel: char + whitespace-token counts per doc via
    ``pyarrow.compute`` — deterministic, so even this surface gets a
    full SQL value-hash check (the split regex matches the engine's
    ``\\s+`` tokenizer)."""

    def counts(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            # utf8_trim(' '), NOT utf8_trim_whitespace: the latter
            # strips \t/\n/unicode whitespace while the SQL oracle and
            # the engine's own tokenize() contract use trim() = ASCII
            # spaces only; the two must agree on tab/newline-edged text.
            trimmed = pc.utf8_trim(text, " ")
            toks = pc.split_pattern_regex(trimmed, r"[ \t\n\f\r]+")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.list_value_length(toks), pa.int64()),
                ],
                ["doc_id", "n_chars_py", "n_tokens_py"],
            )

    d = scan(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(counts, "doc_id long, n_chars_py long, n_tokens_py long")


@query(
    "x7_sql_udf",
    oracle="""
SELECT l_returnflag,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE AS disc_revenue,
       count(*)::BIGINT AS n
FROM lineitem
GROUP BY 1
""",
    survey="X7,C4",
    category="udf",
)
def x7_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``) —
    reusable scalar logic declared in SQL, not Python: the function
    body is INLINED into the calling query's plan by Catalyst, so
    unlike X1's Python UDF there is no serialization boundary, no
    worker round-trip, and full codegen/pushdown through the call.
    The discounted-price formula is defined once and used inside an
    aggregate; the oracle inlines the identical expression — equality
    proves the inlining is semantics-preserving under the money
    contract (quantize inside the function, exact DECIMAL sum
    outside)."""
    scan(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pmr_disc_price(p DOUBLE, d DOUBLE)
        RETURNS DECIMAL(20,4)
        RETURN CAST(round(p * (1 - d), 4) AS DECIMAL(20,4))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(round(sum(pmr_disc_price(l_extendedprice, l_discount)), 2) AS DOUBLE)
                 AS disc_revenue,
               count(*) AS n
        FROM lineitem
        GROUP BY 1
        """
    )


@query(
    "x8_polymorphic_udtf",
    oracle="""
WITH b AS (
  SELECT o_orderpriority,
         CASE WHEN o_totalprice < 0 THEN 0
              WHEN o_totalprice >= 600000 THEN 9
              ELSE floor((o_totalprice - 0) * 8 / (600000 - 0))::BIGINT + 1 END AS bucket
  FROM orders
  WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority, bucket, count(*)::BIGINT AS n
FROM b GROUP BY 1, 2
ORDER BY o_orderpriority, bucket
""",
    survey="X8",
    category="udf",
)
def x8_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: POLYMORPHIC Python UDTF (Spark 4): the ``analyze()`` static
    method computes the output schema AT PLAN TIME from the call's
    constant arguments — here the output's first column is NAMED after
    the partition-key column passed in, and the histogram function is
    invoked with a TABLE argument plus ``PARTITION BY``: each
    partition's rows stream through one UDTF instance (eval per row,
    terminate emits that partition's buckets).  This is the
    table-function EXTENSION surface x4b's fixed-schema UDTF cannot
    express: one registered function serving any table/column/bucket
    spec, schema checked by the analyzer, not at runtime.

    The bucket arithmetic ((v-lo)*nb/(hi-lo), clamped ends) is plain
    IEEE and mirrored exactly in the oracle.  Python-row cost note:
    per-row Python IS the priced surface here (as in s20's rowwise
    path); the declarative 100 TB twin is the oracle's own CASE +
    groupBy, and the partition-wise streaming shape (no per-group
    collect, state = nb counters per instance) is what scales when the
    logic genuinely needs Python."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeResult

    class BucketCounts:
        @staticmethod
        def analyze(table, key, col, lo, hi, nb):
            # plan-time polymorphism: output key column named after the
            # ACTUAL partition column; validate against the table schema
            names = [f.name for f in table.dataType.fields]
            if key.value not in names or col.value not in names:
                raise ValueError(f"bucket_counts: {key.value}/{col.value} not in {names}")
            return AnalyzeResult(
                schema=StructType(
                    [
                        StructField(key.value, StringType()),
                        StructField("bucket", LongType()),
                        StructField("n", LongType()),
                    ]
                )
            )

        def __init__(self):
            self.counts: dict = {}
            self.key = None

        def eval(self, row, key, col, lo, hi, nb):
            v = row[col]
            self.key = row[key]
            if v is None:
                return
            if v < lo:
                b = 0
            elif v >= hi:
                b = nb + 1
            else:
                b = int((v - lo) * nb / (hi - lo)) + 1
            self.counts[b] = self.counts.get(b, 0) + 1

        def terminate(self):
            for b in sorted(self.counts):
                yield (self.key, b, self.counts[b])

    spark.udtf.register("pmr_bucket_counts", udtf(BucketCounts))
    # Round-11 (guide §4.1): a UDTF TABLE argument is opaque to column
    # pruning — eval() receives the whole row, so Spark must scan,
    # shuffle (the PARTITION BY exchange), struct-pack and ship EVERY
    # column of the view through the Python boundary.  Project the two
    # columns the function reads before the boundary: the scan's
    # ReadSchema drops 6 -> 2 columns, the exchange payload and the
    # per-row Python struct drop 7 -> 3 fields.  Result unchanged
    # (bucket counts depend only on key + value columns).
    scan(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")\
        .createOrReplaceTempView("pmr_orders_x8")
    return spark.sql(
        """
        SELECT * FROM pmr_bucket_counts(
          TABLE(pmr_orders_x8) PARTITION BY (o_orderpriority),
          'o_orderpriority', 'o_totalprice', 0.0D, 600000.0D, 8)
        ORDER BY o_orderpriority, bucket
        """
    )


@query(
    "x9_arrow_udf",
    oracle=r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       CASE WHEN trim(text) = '' THEN NULL
            ELSE string_split_regex(trim(text), '\s+')[1] END   AS head_token,
       n_chars * 2 + doc_id % 7                                 AS mixed
FROM documents
WHERE text IS NOT NULL AND regexp_matches(text, '^[ -~]*$')
""",
    survey="X9",
    category="udf",
)
def x9_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: Arrow-OPTIMIZED scalar Python UDF (``useArrow=True``,
    Spark 3.5+/4) — the middle tier of the Python-UDF cost spectrum:
    the same per-value authoring model as X1 (plain Python function,
    no pandas in sight) but transported in Arrow RecordBatches instead
    of one pickled row per call — the serialization boundary drops
    from O(rows) round-trips to O(batches) while the function body
    stays scalar.  This is the migration path for the thousands of
    existing row UDFs a real warehouse carries: flip one flag, keep
    the body.  (X2 remains the faster tier when the body itself can
    vectorize.)

    Domain guard (f15's discipline): Python ``str.split()`` treats
    unicode whitespace (U+00A0 &c.) as separators while the oracle's
    RE2 ``\\s`` is ASCII-only — the oracle domain is printable-ASCII
    documents, over which the two tokenizations agree exactly."""

    @F.udf(returnType="long", useArrow=True)
    def tok_count(text: str) -> int:
        return len(text.split()) if text is not None else None

    @F.udf(returnType="string", useArrow=True)
    def head_token(text: str) -> str:
        toks = text.split() if text is not None else []
        return toks[0] if toks else None

    @F.udf(returnType="long", useArrow=True)
    def mixed(n_chars: int, doc_id: int) -> int:
        if n_chars is None or doc_id is None:  # NULL in → NULL out,
            return None  # matching the oracle's propagation (siblings' guard)
        return n_chars * 2 + doc_id % 7

    d = scan(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("text").rlike("^[ -~]*$")
    )
    return d.select(
        "doc_id",
        tok_count("text").alias("n_tokens"),
        head_token("text").alias("head_token"),
        mixed("n_chars", "doc_id").alias("mixed"),
    )


@query(
    "x10_iter_pandas_udf",
    oracle="""
SELECT doc_id,
       round(ln(1 + n_chars) *
             CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.9
                       WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.7
                       WHEN 'zh' THEN 0.6 ELSE 0.5 END, 6) AS score
FROM documents
""",
    survey="X10",
    category="udf",
)
def x10_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: ITERATOR-form pandas UDF (``Iterator[Tuple[pd.Series, ...]]
    → Iterator[pd.Series]``) — the Arrow-batched UDF variant whose
    reason to exist is AMORTIZED per-partition initialization: the
    function body runs ONCE per partition, does its expensive setup
    (load a model, open a tokenizer, warm a cache) BEFORE the loop,
    then streams every Arrow batch of that partition through the
    already-initialized state.  The scalar pandas UDF (X2) re-enters
    per batch with nowhere to hold such state — for an LLM-pipeline
    scoring pass over 100 TB (quality model, perplexity scorer,
    embedding head) this form is the difference between one model
    load per PARTITION and one per few-thousand-row batch.

    Here the "model" is a per-lang weight table built in the setup
    phase; the score is ln(1+n_chars)·w(lang), rounded to 6 dp on
    both sides (libm last-ulp discipline, module header)."""
    import math

    @F.pandas_udf("double")
    def lang_score(
        it: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        # setup phase: runs once per PARTITION, not per batch
        weights = {"en": 1.0, "de": 0.9, "es": 0.8, "fr": 0.7, "zh": 0.6}
        for n_chars, lang in it:
            w = lang.map(weights).fillna(0.5)
            yield ((1.0 + n_chars).map(math.log) * w).round(6)

    d = scan(spark, sf_dir, "documents")
    return d.select("doc_id", lang_score("n_chars", "lang").alias("score"))


@query(
    "x11_sql_table_function",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2) AS DOUBLE)
         AS total
FROM orders
WHERE o_totalprice > 150000 AND o_orderdate >= DATE '1996-01-01'
GROUP BY o_orderpriority
""",
    survey="X11",
    category="udf",
)
def x11_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: SQL-defined TABLE function (`CREATE FUNCTION ... RETURNS
    TABLE`, Spark 4) — the table-valued counterpart of x7's scalar SQL
    UDF and the zero-serialization end of the UDTF spectrum x4b/x8
    occupy from Python: the function body is a full SELECT that
    Catalyst INLINES into the calling plan at resolution time, so a
    parameterized "view with arguments" (the classic warehouse
    reporting primitive) costs exactly what the literal query costs —
    filter pushdown, partial aggregation, and AQE all apply THROUGH
    the call boundary.  No Python worker, no Arrow boundary, no
    per-row anything.

    The parameters feed predicates (not foldable-required positions),
    and the oracle is the body with the same literals inlined —
    proving the inlining is semantics-preserving."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pmr_priority_report(
            thr DOUBLE, cutoff DATE)
        RETURNS TABLE (o_orderpriority STRING, n_orders BIGINT, total DOUBLE)
        RETURN
          SELECT o_orderpriority,
                 count(*) AS n_orders,
                 CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)
                      AS DOUBLE) AS total
          FROM orders
          WHERE o_totalprice > thr AND o_orderdate >= cutoff
          GROUP BY o_orderpriority
        """
    )
    return spark.sql(
        "SELECT * FROM pmr_priority_report(150000.0D, DATE '1996-01-01')"
    )


@query(
    "x12_apply_in_arrow",
    oracle="""
SELECT o_orderpriority,
       count(*)                                   AS n_orders,
       CAST(sum(o_orderkey % 1000) AS BIGINT)     AS key_sum,
       min(CAST(o_orderdate AS DATE))::TIMESTAMP  AS first_date,
       max(CAST(o_orderdate AS DATE))::TIMESTAMP  AS last_date
FROM orders
GROUP BY o_orderpriority
""",
    survey="X12",
    category="udf",
)
def x12_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: grouped `applyInArrow` (Spark 4) — the zero-pandas tier of
    the grouped-map family: each group arrives as ONE
    `pyarrow.Table` and the body runs pyarrow.compute kernels
    (C++-vectorized, no pandas object materialization), the same
    boundary X6 exercises for un-grouped mapInArrow.  Compared with
    X3's applyInPandas, this skips the Arrow→pandas→Arrow double
    conversion — for a numeric per-group kernel at 100 TB that
    conversion IS the dominant Python-side cost.  Grouped-map caveat
    carried from X3: the whole group materializes in one worker, so
    it is for bounded groups (5 priority classes here), never
    unbounded-cardinality keys.

    Aggregates are exact (count / integer sum / date min-max) so even
    the Arrow-kernel path is hash-checked."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_group(table: pa.Table) -> pa.Table:
        keys = table.column("o_orderpriority")
        key_mod = table.column("key_mod")
        dates = table.column("o_orderdate")
        return pa.table(
            {
                "o_orderpriority": [keys[0].as_py() if len(keys) else None],
                "n_orders": [table.num_rows],
                "key_sum": [pc.sum(key_mod).as_py()],
                "first_date": [pc.min(dates).as_py()],
                "last_date": [pc.max(dates).as_py()],
            },
            schema=pa.schema(
                [
                    ("o_orderpriority", pa.string()),
                    ("n_orders", pa.int64()),
                    ("key_sum", pa.int64()),
                    ("first_date", pa.date32()),
                    ("last_date", pa.date32()),
                ]
            ),
        )

    # expressible math stays JVM-side (pyarrow.compute ships no mod
    # kernel, and pushing it into the worker would be backwards anyway)
    o = scan(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderkey") % 1000).alias("key_mod"),
        # DATE, not timestamp, crosses the Arrow boundary: date32 is
        # timezone-free, so the kernel's min/max cannot shift under
        # the driver's hostile session zone (the cast itself runs
        # under the ensure_session_conf-repaired UTC session)
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    out = o.groupBy("o_orderpriority").applyInArrow(
        per_group,
        schema=(
            "o_orderpriority string, n_orders long, key_sum long, "
            "first_date date, last_date date"
        ),
    )
    # canon families compare DATE as 'other' but TIMESTAMP as
    # 'datetime' — surface the dates as midnight timestamps, the
    # repo-wide date-output convention (functions_families f2)
    return out.withColumn(
        "first_date", F.col("first_date").cast("timestamp")
    ).withColumn("last_date", F.col("last_date").cast("timestamp"))
