"""Aggregation queries (SURVEY.md §2.4, A1–A10).

Every groupBy here compiles to Spark's partial+final hash aggregate —
the map-side combiner MR programmers hand-write is automatic, so the
shuffle carries only per-partition partial states (cardinality of the
group keys, not the input).  That property is exactly what makes these
plans 100 TB-safe: shuffle volume is O(groups), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projectmapreduce_spark.functions import dround, money_avg, money_sum
from projectmapreduce_spark.io import scan
from projectmapreduce_spark.queries.registry import query


@query(
    "a1_groupby_agg",
    oracle="""
SELECT l_returnflag,
       count(*)                  AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_quantity), 2) AS avg_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
    survey="A1",
    category="aggregate",
)
def a1_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/count/avg/min/max per key — the canonical reduce+combiner."""
    return (
        scan(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            dround(F.min("l_extendedprice"), 2).alias("min_price"),
            dround(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


@query(
    "a2_global_agg",
    oracle="""
SELECT count(*)                     AS n_orders,
       count(DISTINCT o_custkey)    AS n_customers,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4)))::DOUBLE / count(o_totalprice), 2) AS avg_price,
       round(min(o_totalprice), 2)  AS min_price,
       round(max(o_totalprice), 2)  AS max_price
FROM orders
""",
    survey="A2,A3",
    category="aggregate",
)
def a2_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless global aggregate — single-row output."""
    return scan(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        money_sum("o_totalprice").alias("total"),
        money_avg("o_totalprice").alias("avg_price"),
        dround(F.min("o_totalprice"), 2).alias("min_price"),
        dround(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "a3_count_distinct",
    oracle="""
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       count(*)                    AS n_customers
FROM customer
GROUP BY c_mktsegment
""",
    survey="A3",
    category="aggregate",
)
def a3_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group (expand+two-phase agg under the hood)."""
    return (
        scan(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query("a4_approx_count_distinct", oracle=None, survey="A4", category="aggregate")
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct (rows-only: sketch estimates are
    engine-specific).  At 100 TB this replaces A3's expand+shuffle with
    a constant-size mergeable sketch per partition — the only way a
    distinct over billions of keys stays in memory.  Accuracy vs the
    exact count is asserted in tests/test_operators.py."""
    return (
        scan(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"))
    )


@query(
    "a4b_hll_registers",
    oracle="""
WITH hashed AS (
  SELECT o_orderpriority,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(o_custkey::VARCHAR, ''), c -> ascii(c)::BIGINT)),
             (acc, x) -> (acc * 31 + x) % 4294967296) AS h0
  FROM orders
  WHERE o_custkey IS NOT NULL
),
mixed AS (
  SELECT o_orderpriority, xor(h3, h3 >> 16) AS h
  FROM (SELECT o_orderpriority, (h2 * 1372812589) % 4294967296 AS h3
        FROM (SELECT o_orderpriority, xor(h1, h1 >> 16) AS h2
              FROM (SELECT o_orderpriority, (h0 * 1540483477) % 4294967296 AS h1
                    FROM hashed)))
),
split AS (
  SELECT o_orderpriority, h % 512 AS bucket, h >> 9 AS suffix FROM mixed
),
rhos AS (
  SELECT o_orderpriority, bucket, (24 - bit_count(s16))::BIGINT AS rho
  FROM (SELECT o_orderpriority, bucket, s8 | (s8 >> 16) AS s16
        FROM (SELECT o_orderpriority, bucket, s4 | (s4 >> 8) AS s8
              FROM (SELECT o_orderpriority, bucket, s2 | (s2 >> 4) AS s4
                    FROM (SELECT o_orderpriority, bucket, s1 | (s1 >> 2) AS s2
                          FROM (SELECT o_orderpriority, bucket, suffix | (suffix >> 1) AS s1
                                FROM split)))))
),
regs AS (
  SELECT o_orderpriority, bucket, max(rho) AS reg FROM rhos GROUP BY 1, 2
),
summ AS (
  SELECT o_orderpriority,
         count(*)::BIGINT AS n_buckets,
         sum((bucket + 1) * reg)::BIGINT AS reg_checksum,
         sum(pow(2.0, -reg)) AS z_hit
  FROM regs GROUP BY 1
),
est AS (
  SELECT o_orderpriority, n_buckets, (512 - n_buckets)::BIGINT AS v_zero,
         reg_checksum, z_hit + (512 - n_buckets) AS z_sum
  FROM summ
)
SELECT e.o_orderpriority AS o_orderpriority, n_buckets, v_zero, reg_checksum, z_sum,
       round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 / z_sum <= 1280.0
                   AND v_zero > 0
                  THEN 512.0 * ln(512.0 / v_zero)
                  ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 / z_sum END, 4)
         AS est_distinct,
       x.exact_distinct AS exact_distinct
FROM est e
JOIN (SELECT o_orderpriority, count(DISTINCT o_custkey)::BIGINT AS exact_distinct
      FROM orders GROUP BY 1) x USING (o_orderpriority)
""",
    survey="A4,A13,F10",
    category="aggregate",
)
def a4b_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 twin: hand-rolled HyperLogLog whose REGISTERS hash-match the
    oracle cell for cell — the engine-exact counterpart to a4's
    rows-only ``approx_count_distinct`` (VERDICT r5 next-round #2).

    Same algebra as Spark's HLL++, but over the a12 poly-hash family
    (exact bigint arithmetic both engines evaluate identically) plus a
    murmur-style finisher (``operators/sketch.py::hll_mix``): bucket =
    low 9 hash bits, register = max leading-zero run of the top 23.
    ``reg_checksum`` (Σ (bucket+1)·reg) pins every register's value
    AND placement in the hash; ``z_sum`` is exactly dyadic so it
    cross-checks unrounded; only ``est_distinct`` is rounded (its
    small-range branch touches libm ln).  ``exact_distinct`` certifies
    accuracy inside the same hash (observed ≤ 4% error at m=512).

    100 TB shape: one register-bounded shuffle (≤ groups × 512 rows
    after map-side partial max), registers persistable and mergeable
    by cell-wise MAX across days/corpora — the A13 incremental pattern
    without the engine-specific sketch binary."""
    from projectmapreduce_spark.operators.sketch import hll_estimate, hll_registers

    o = scan(spark, sf_dir, "orders")
    regs = hll_registers(o, "o_custkey", ["o_orderpriority"], p=9)
    ests = hll_estimate(regs, ["o_orderpriority"], p=9)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return ests.join(exact, "o_orderpriority")


@query(
    "a5_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*)                  AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    survey="A5",
    category="aggregate",
)
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical multi-level aggregate — one pass, no multi-job chain."""
    return (
        scan(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "a5b_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    survey="A5",
    category="aggregate",
)
def a5b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over two dimensions."""
    return (
        scan(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "a6_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15 AND sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))) > 1500000.0
""",
    survey="A6",
    category="aggregate",
)
def a6_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        scan(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dround("o_totalprice", 4).cast("decimal(20,4)")).alias("__spend_raw"),
        )
        .filter((F.col("n_orders") >= 15) & (F.col("__spend_raw") > 1500000.0))
        .select(
            "o_custkey",
            "n_orders",
            F.round(F.col("__spend_raw"), 2).cast("double").alias("spend"),
        )
    )


@query(
    "a8_collect_sorted",
    oracle="""
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    survey="A8",
    category="aggregate",
)
def a8_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group set materialization, sorted for determinism and
    serialized to a string so the value-hash is representation-stable."""
    return (
        scan(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "a9_percentile",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
FROM orders
GROUP BY o_orderstatus
""",
    survey="A9",
    category="aggregate",
)
def a9_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group.  (The sketch-based
    scale path is `approx_percentile` — see tests/test_operators.py —
    exact percentile requires a per-group sort and is the small-group
    tool; at 100 TB use the KLL/GK sketch variant.)"""
    return (
        scan(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            dround(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("median_price"),
            dround(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
        )
    )


@query(
    "a10_pivot",
    oracle="""
SELECT date_trunc('day', ts)::TIMESTAMP AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY date_trunc('day', ts)
""",
    survey="A10",
    category="aggregate",
)
def a10_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list: an
    unconstrained pivot needs an extra distinct pass — never at scale)."""
    return (
        scan(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "a5c_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*)                  AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    survey="A5",
    category="aggregate",
)
def a5c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets — the general form rollup/cube are sugar
    for; expressed via SQL on a temp view (groupingSets has no direct
    DataFrame method pre-Spark-4.1 connect API)."""
    scan(spark, sf_dir, "lineitem").createOrReplaceTempView("pmr_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*)                  AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM pmr_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query("a11_approx_quantile_sketch", oracle=None, survey="A11", category="aggregate")
def a11_approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: mergeable quantile sketch — ``approx_percentile`` is
    Spark's KLL/Greenwald-Khanna-family summary: each partition builds
    a bounded-size sketch, sketches MERGE associatively at the
    exchange, so the shuffle carries one sketch per partition instead
    of the column itself — the only way to do percentiles over a
    100 TB column in one pass.  Rows-only (DuckDB's approx sketch is a
    different algorithm); the error bound vs the exact percentile is
    asserted in tests/test_operators.py."""
    li = scan(spark, sf_dir, "lineitem")
    acc = 10_000  # 1/accuracy relative-rank error bound
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("approx_median"),
        F.percentile_approx("l_extendedprice", 0.99, acc).alias("approx_p99"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "a11b_histogram_quantiles",
    oracle="""
WITH vals AS (
  SELECT l_returnflag AS g, l_extendedprice AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
mm AS (
  SELECT g, min(v) AS mn, max(v) AS mx, count(*)::BIGINT AS n_rows
  FROM vals GROUP BY 1
),
bk AS (
  SELECT vals.g,
         CASE WHEN mx = mn THEN 0
              ELSE least(floor((v - mn) / (mx - mn) * 256)::INT, 255) END AS bkt
  FROM vals JOIN mm ON vals.g = mm.g
),
counts AS (SELECT g, bkt, count(*)::BIGINT AS c FROM bk GROUP BY 1, 2),
cum AS (
  SELECT g, bkt, c, sum(c) OVER (PARTITION BY g ORDER BY bkt) AS cume
  FROM counts
),
qd AS (
  SELECT cum.*, mn, mx, n_rows, q
  FROM cum JOIN mm USING (g)
  CROSS JOIN (SELECT unnest([0.5, 0.99]::DOUBLE[]) AS q) qs
),
picked AS (
  SELECT * FROM qd
  WHERE (cume - c)::DOUBLE < ceil(q * n_rows)
    AND ceil(q * n_rows) <= cume::DOUBLE
)
SELECT g AS l_returnflag, q, n_rows, bkt::BIGINT AS bkt,
       round(CASE WHEN mx = mn THEN mn
                  ELSE mn + (bkt::DOUBLE
                             + (ceil(q * n_rows) - (cume - c)::DOUBLE) / c::DOUBLE)
                            * ((mx - mn) / 256.0) END, 4) AS est_value
FROM picked
""",
    survey="A11,A9,W3",
    category="aggregate",
)
def a11b_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's mergeable-quantile story with a FULL hash oracle (a11's
    KLL-family ``approx_percentile`` is engine-specific; this sketch
    is not): the two-pass fixed-width histogram — pass 1 gathers
    per-group (min, max, n), pass 2 builds 256 equal-width bin counts
    (fixed size, mergeable by cell-wise ADD, shuffle bounded by
    groups × 256 at any input size), and the p50/p99 are read off the
    cumulative histogram with linear interpolation inside the target
    bin (error ≤ bin width by construction).  Bucketing and
    interpolation are pure IEEE arithmetic on identical literals —
    no libm — so estimates hash-match DuckDB bit for bit before the
    courtesy round; the accuracy-vs-exact bound is pinned in
    tests/test_operators.py.  This is the quantile analogue of
    a4b/a12: when a 100 TB pipeline needs REPRODUCIBLE percentiles
    (SLA thresholds, regression gates), an engine-pinned sketch beats
    a faster but engine-private summary."""
    from projectmapreduce_spark.operators.sketch import histogram_quantiles

    li = scan(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice", ["l_returnflag"], qs=(0.5, 0.99))


@query(
    "a12_count_min_sketch",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
hashed AS (
  SELECT token,
         list_reduce(list_prepend(0::BIGINT,
                     list_transform(string_split(token, ''), c -> ascii(c)::BIGINT)),
                     (acc, x) -> (acc * 31 + x) % 4294967296) AS h
  FROM toks
),
cells AS (
  SELECT j, ((h * 1540483477 + j * 1000003) % 4294967296) % 1024 AS bucket,
         count(*)::BIGINT AS cell_count
  FROM hashed CROSS JOIN (SELECT unnest(range(4)) AS j) js
  GROUP BY 1, 2
),
counts AS (
  SELECT token, any_value(h) AS h, count(*)::BIGINT AS true_count
  FROM hashed GROUP BY token
),
probes AS (SELECT * FROM counts ORDER BY true_count DESC, token LIMIT 20)
SELECT p.token AS token, p.true_count AS true_count,
       min(c.cell_count)::BIGINT AS est_count
FROM probes p
JOIN cells c
  ON c.bucket = ((p.h * 1540483477 + c.j * 1000003) % 4294967296) % 1024
GROUP BY 1, 2
""",
    survey="A12",
    category="aggregate",
)
def a12_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: count–min sketch — frequency estimates for the corpus's
    top-20 tokens from a fixed 4×1024 counter grid.  The sketch path
    never shuffles the vocabulary: each partition builds its grid
    map-side and grids merge cell-wise (`operators/sketch.py`); the
    probe join broadcasts the ≤ d×w-row grid.  The exact `true_count`
    column exists to certify ``est ≥ true`` in the oracle hash — at
    100 TB you would keep only the sketch side.  Hash family is
    engine-exact bigint arithmetic, so even the estimates hash-match
    DuckDB cell for cell."""
    from projectmapreduce_spark.operators.sketch import cms_build, cms_estimate, poly_hash

    d = scan(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    cells = cms_build(toks, "token", depth=4, width=1024)
    probes = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token"))
        .limit(20)
    )
    return cms_estimate(probes, cells, "token", depth=4, width=1024)


@query(
    "a13b_hll_register_union",
    oracle="""
WITH hashed AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS grp,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(o_custkey::VARCHAR, ''), c -> ascii(c)::BIGINT)),
             (acc, x) -> (acc * 31 + x) % 4294967296) AS h0
  FROM orders
  WHERE o_custkey IS NOT NULL
),
mixed AS (
  SELECT grp, xor(h3, h3 >> 16) AS h
  FROM (SELECT grp, (h2 * 1372812589) % 4294967296 AS h3
        FROM (SELECT grp, xor(h1, h1 >> 16) AS h2
              FROM (SELECT grp, (h0 * 1540483477) % 4294967296 AS h1
                    FROM hashed)))
),
rhos AS (
  SELECT grp, h % 512 AS bucket,
         (24 - bit_count(s8 | (s8 >> 16)))::BIGINT AS rho
  FROM (SELECT grp, h, s4 | (s4 >> 8) AS s8
        FROM (SELECT grp, h, s2 | (s2 >> 4) AS s4
              FROM (SELECT grp, h, s1 | (s1 >> 2) AS s2
                    FROM (SELECT grp, h, (h >> 9) | ((h >> 9) >> 1) AS s1
                          FROM mixed))))
),
month_regs AS (
  SELECT grp, bucket, max(rho) AS reg FROM rhos GROUP BY 1, 2
),
regs AS (
  SELECT * FROM month_regs
  UNION ALL
  SELECT 'ALL' AS grp, bucket, max(reg) AS reg FROM month_regs GROUP BY bucket
),
summ AS (
  SELECT grp,
         count(*)::BIGINT AS n_buckets,
         sum((bucket + 1) * reg)::BIGINT AS reg_checksum,
         sum(pow(2.0, -reg)) AS z_hit
  FROM regs GROUP BY 1
),
est AS (
  SELECT grp, n_buckets, (512 - n_buckets)::BIGINT AS v_zero,
         reg_checksum, z_hit + (512 - n_buckets) AS z_sum
  FROM summ
),
exact AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS grp,
         count(DISTINCT o_custkey)::BIGINT AS exact_distinct
  FROM orders GROUP BY 1
  UNION ALL
  SELECT 'ALL', count(DISTINCT o_custkey)::BIGINT FROM orders
)
SELECT e.grp AS grp, n_buckets, v_zero, reg_checksum, z_sum,
       round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 / z_sum <= 1280.0
                   AND v_zero > 0
                  THEN 512.0 * ln(512.0 / v_zero)
                  ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 / z_sum END, 4)
         AS est_distinct,
       x.exact_distinct AS exact_distinct
FROM est e JOIN exact x USING (grp)
""",
    survey="A13,A4,S5",
    category="aggregate",
)
def a13b_hll_register_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13's persistable-mergeable-sketch story with a FULL hash
    oracle (a13's DataSketches binaries are engine-specific; these
    registers are not): count distinct monthly-active customers ONCE,
    PERSIST the per-month register frames to parquet, and answer the
    all-time distinct count by MERGING the stored frames cell-wise
    (max per bucket) — never rescanning the raw orders.  This is the
    incremental-analytics contract at 100 TB: any date-range distinct
    count is a register-table read + tiny max-aggregate, not a scan.

    The ALL row is genuinely computed from the READ-BACK parquet
    registers, so the hash also certifies the persistence round-trip;
    per-month rows and the merged row all carry reg_checksum + exact
    z_sum like a4b, and exact_distinct certifies accuracy in-band.
    HLL's union-exactness (sketch(A ∪ B) == merge(sketch A, sketch B),
    exactly, not approximately) is what makes the pattern sound; the
    property itself is pinned in tests/test_operators.py."""
    from projectmapreduce_spark.io import scratch_path
    from projectmapreduce_spark.operators.sketch import hll_estimate, hll_registers

    o = scan(spark, sf_dir, "orders").withColumn(
        "grp", F.date_format("o_orderdate", "yyyy-MM")
    )
    regs = hll_registers(o, "o_custkey", ["grp"], p=9)
    # Persist the sketch table (the A13 "store, don't rescan" step),
    # then everything downstream reads the parquet back.
    path = scratch_path("a13b_month_registers")
    regs.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    merged = (
        stored.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .withColumn("grp", F.lit("ALL"))
        .select("grp", "bucket", "reg")
    )
    ests = hll_estimate(stored.unionByName(merged), ["grp"], p=9)
    # Round-11 (guide §2.4): the per-month and ALL exact counts were
    # two separate aggregations, each with its own full orders scan in
    # the final plan.  rollup("grp") computes both grouping sets in
    # one pass over one scan (grp is never null — date_format of a
    # non-null date — so the rollup's null grand-total row maps to
    # 'ALL' unambiguously).  Same values, one fewer base-table scan.
    exact = (
        o.rollup("grp")
        .agg(F.countDistinct("o_custkey").alias("exact_distinct"))
        .select(F.coalesce("grp", F.lit("ALL")).alias("grp"), "exact_distinct")
    )
    return ests.join(exact, "grp")


@query("a13_hll_sketch_union", oracle=None, survey="A13", category="aggregate")
def a13_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: persistable, mergeable distinct-count sketches — Spark's
    Apache DataSketches HLL surface.  Unlike A4's one-shot
    ``approx_count_distinct``, ``hll_sketch_agg`` materializes the
    sketch itself (a few-KB binary), so per-partition/per-day sketches
    can be STORED and later combined with ``hll_union_agg`` — the
    incremental-analytics pattern: count distinct users per day once,
    answer any date-range query by unioning sketches, never rescanning
    the raw 100 TB.  Here: one sketch per market segment, plus the
    ALL row computed by unioning the five segment sketches (not by
    re-aggregating the input).  Rows-only: DuckDB's HLL is a different
    algorithm; the error bound vs exact is pinned in
    tests/test_operators.py.

    The union folds the segment sketches in segment order.  A DataSketches
    union's estimate depends on the order and grouping of its merges, so
    ``hll_union_agg`` over the shuffled sketches would read differently
    under each shuffle partition count (1492-1518 at sf0.01 for counts
    1-200)."""
    c = scan(spark, sf_dir, "customer")
    per = c.groupBy("c_mktsegment").agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    seg = per.select("c_mktsegment", F.hll_sketch_estimate("sk").alias("est_distinct"))
    sks = F.array_sort(F.collect_list(F.struct("c_mktsegment", "sk")))
    union = per.agg(sks.alias("sks")).select(
        F.lit("ALL").alias("c_mktsegment"),
        F.hll_sketch_estimate(
            F.aggregate(
                F.slice("sks", 2, F.size("sks")),
                F.col("sks")[0]["sk"],
                lambda acc, x: F.hll_union(acc, x["sk"]),
            )
        ).alias("est_distinct"),
    )
    return seg.unionByName(union)


@query(
    "a14_incremental_agg",
    oracle="""
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total_price,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4)))::DOUBLE / count(*), 6) AS avg_price
FROM orders
GROUP BY o_orderpriority
""",
    survey="A14,A1,S5,U1",
    category="aggregate",
)
def a14_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: incremental aggregate maintenance — the incremental-rollup
    primitive: keep a persisted PARTIAL-aggregate state table
    (key, count, sum) and fold each new batch into it with a
    state-sized merge, never rescanning history.  avg is derived from
    the mergeable (sum, count) pair at read time — the general rule:
    persist the semigroup state, compute the final function on read
    (same algebra A11–A13's sketches use for approximate state).

    The query splits orders into two 'days' (orderkey mod 2), folds
    batch 0 into empty state, persists, folds batch 1 into the
    read-back state, and the merged result must equal the one-shot
    aggregate over everything — the oracle.  Each merge is a
    unionByName + re-aggregate: state-sized + batch-sized, at 100 TB
    orders of magnitude cheaper than recomputing from raw history;
    with S6/S8 layout the state table merges per-partition."""
    from projectmapreduce_spark.io import scratch_path

    o = scan(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice", "o_orderkey")
    state_path = scratch_path("a14_state")

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            # decimal partials: the state table then carries EXACT sums,
            # so merge order across batches can never change the total
            F.sum(dround("o_totalprice", 4).cast("decimal(20,4)")).alias("sum_price"),
        )

    def merge(state: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            state.unionByName(partial(batch))
            .groupBy("o_orderpriority")
            .agg(F.sum("n_orders").alias("n_orders"), F.sum("sum_price").alias("sum_price"))
        )

    batch0 = o.filter(F.col("o_orderkey") % 2 == 0)
    batch1 = o.filter(F.col("o_orderkey") % 2 == 1)
    empty = partial(batch0).limit(0)
    merge(empty, batch0).write.mode("overwrite").parquet(state_path)
    state = spark.read.parquet(state_path)
    final = merge(state, batch1)
    return final.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sum_price"), 2).cast("double").alias("total_price"),
        dround(F.col("sum_price").cast("double") / F.col("n_orders"), 6).alias("avg_price"),
    )


@query(
    "a15_stats_moments",
    oracle="""
WITH sums AS (
  SELECT l_returnflag,
         count(*)                                                            AS n,
         sum(CAST(round(l_quantity, 4) AS DECIMAL(38,4)))::DOUBLE            AS sx,
         sum(CAST(round(l_quantity * l_quantity, 4) AS DECIMAL(38,4)))::DOUBLE AS sx2,
         sum(CAST(round(l_extendedprice, 4) AS DECIMAL(38,4)))::DOUBLE       AS sy,
         sum(CAST(round(l_extendedprice * l_extendedprice, 4) AS DECIMAL(38,4)))::DOUBLE AS sy2,
         sum(CAST(round(l_quantity * l_extendedprice, 4) AS DECIMAL(38,4)))::DOUBLE AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       round(sx / n, 6)                                    AS mean_qty,
       round((sx2 - sx * sx / n) / n, 6)                   AS var_qty,
       round(sqrt((sx2 - sx * sx / n) / n), 6)             AS std_qty,
       round((sxy - sx * sy / n) / n, 6)                   AS covar_qty_price,
       round((sxy - sx * sy / n)
             / sqrt((sx2 - sx * sx / n) * (sy2 - sy * sy / n)), 6) AS corr_qty_price
FROM sums
""",
    survey="A15,A1",
    category="aggregate",
)
def a15_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: second-moment statistics (variance, stddev, covariance,
    correlation) under the ORDER-INDEPENDENT exact-sum contract.

    Spark's built-in ``stddev/corr`` and DuckDB's use different
    one-pass update algorithms (Welford-style merge vs two-pass), so
    their doubles drift with partition order and count — the same
    irreproducibility class the money contract fixed for sums.  The
    cure is the same: every aggregated TERM (x, x², y, y², xy) is
    quantized with the engine-stable round and summed as exact
    DECIMAL — order-independent integers — and all derived moments
    are computed from those five exact sums with an IDENTICAL IEEE
    expression on both engines, so the results are bit-equal at any
    scale and any partitioning.  One hash-aggregate shuffle carrying
    five decimal partials per group; map-side combine applies; the
    derived-moment math runs on the handful of output rows.  At
    100 TB this is the only reproducible way to ship a corr() —
    the built-ins are fine for exploration but cannot be
    golden-pinned."""
    li = scan(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")

    def dsum(expr):
        return F.sum(dround(expr, 4).cast("decimal(38,4)")).cast("double")

    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q).alias("sx"),
        dsum(q * q).alias("sx2"),
        dsum(p).alias("sy"),
        dsum(p * p).alias("sy2"),
        dsum(q * p).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sx2, sy, sy2, sxy = (F.col(c) for c in ("sx", "sx2", "sy", "sy2", "sxy"))
    mvar = (sx2 - sx * sx / n) / n
    return sums.select(
        "l_returnflag",
        "n",
        dround(sx / n, 6).alias("mean_qty"),
        dround(mvar, 6).alias("var_qty"),
        dround(F.sqrt(mvar), 6).alias("std_qty"),
        dround((sxy - sx * sy / n) / n, 6).alias("covar_qty_price"),
        dround(
            (sxy - sx * sy / n) / F.sqrt((sx2 - sx * sx / n) * (sy2 - sy * sy / n)), 6
        ).alias("corr_qty_price"),
    )


@query(
    "a10b_unpivot",
    oracle="""
SELECT event_type,
       sum(cnt)::BIGINT AS total,
       count(*)::BIGINT AS n_users
FROM (
  SELECT user_id, event_type, count(*)::BIGINT AS cnt
  FROM events
  WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
  GROUP BY 1, 2
)
GROUP BY 1
""",
    survey="A10,U1",
    category="aggregate",
)
def a10b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10's inverse surface: ``df.unpivot`` (melt) — columns back to
    rows, the reshape every pivoted report needs before re-joining or
    re-aggregating.  Pivot per-user event counts to 5 type columns,
    unpivot back to (user, type, cnt) long form, drop the null cells
    pivot manufactured (user × type combos with no events), and
    re-aggregate per type — totals must equal the direct aggregate,
    proving pivot→unpivot loses nothing but the manufactured nulls.
    The type list is a fixed literal on BOTH sides (an open pivot
    would drop unseen hostile-tier types from one side only).  Scale:
    unpivot is a zero-shuffle in-row expansion (column count × rows),
    the two aggregates are key-bounded."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = scan(spark, sf_dir, "events").filter(F.col("event_type").isin(types))
    piv = ev.groupBy("user_id").pivot("event_type", types).count()
    un = piv.unpivot("user_id", types, "event_type", "cnt").filter(
        F.col("cnt").isNotNull()
    )
    return un.groupBy("event_type").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_users"),
    )


_KMV_HASH_SQL = """list_reduce(list_transform(generate_series(1, 13),
    i -> CASE WHEN ascii(substr(md5(o_custkey::VARCHAR), i, 1)) BETWEEN 48 AND 57
              THEN ascii(substr(md5(o_custkey::VARCHAR), i, 1)) - 48
              ELSE ascii(substr(md5(o_custkey::VARCHAR), i, 1)) - 87 END::BIGINT),
    (acc, n) -> acc * 16 + n)"""


@query(
    "a16_kmv_distinct",
    oracle=f"""
WITH dh AS (
  SELECT DISTINCT o_orderpriority AS grp, {_KMV_HASH_SQL} AS h
  FROM orders WHERE o_custkey IS NOT NULL
),
sk AS (
  SELECT grp, h FROM dh
  QUALIFY row_number() OVER (PARTITION BY grp ORDER BY h) <= 64
),
per_grp AS (
  SELECT grp,
         count(*)::BIGINT AS n_hashes,
         max(h)::BIGINT AS kth_min,
         round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                    ELSE 63::DOUBLE * 4503599627370496::DOUBLE / max(h) END, 2) AS est
  FROM sk GROUP BY grp
),
ab AS (
  SELECT DISTINCT h FROM sk WHERE grp IN ('1-URGENT', '2-HIGH')
),
merged AS (
  SELECT h FROM ab QUALIFY row_number() OVER (ORDER BY h) <= 64
),
inter AS (
  SELECT count(*)::BIGINT AS k_eff,
         max(h)::BIGINT AS kth_min,
         count(*) FILTER (h IN (SELECT h FROM sk WHERE grp = '1-URGENT')
                      AND h IN (SELECT h FROM sk WHERE grp = '2-HIGH'))::BIGINT AS overlap
  FROM merged
)
SELECT grp, n_hashes, kth_min, est FROM per_grp
UNION ALL
SELECT 'URGENT&HIGH' AS grp,
       overlap AS n_hashes,
       kth_min,
       round((overlap::DOUBLE / k_eff) *
             (CASE WHEN k_eff < 64 THEN k_eff::DOUBLE
                   ELSE 63::DOUBLE * 4503599627370496::DOUBLE / kth_min END), 2) AS est
FROM inter
""",
    survey="A16",
    category="aggregate",
)
def a16_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: KMV (k-minimum-values) distinct sketch WITH SET ALGEBRA —
    the theta-sketch capability HLL fundamentally lacks: besides a
    per-group distinct estimate, two sketches compose into an
    INTERSECTION estimate (k smallest of the union, Jaccard from the
    fraction present in both, intersection = J x union-estimate).
    Per priority class the sketch of distinct customers is built and
    estimated; the URGENT/HIGH pair is intersected.

    Engine-exact like a4b/a13b: the hash is md5's first 13 hex chars
    folded to a 52-bit bigint (operators/sketch.py::md5_hash52 — same
    value via conv() in Spark and a list_reduce nibble fold in DuckDB),
    so every sketch value, k-th minimum, and rounded estimate
    hash-matches the oracle exactly; n < k groups degrade to exact
    counts by construction.

    Scale shape: one (group, hash) distinct — the shuffle an exact
    count-distinct pays anyway — then everything is k-rows-per-group
    metadata: the window top-k, the union, the semi-join overlap.  At
    100 TB the sketches persist and merge without touching the data
    again (the same persistence story as a13b's HLL registers, plus
    intersections)."""
    from projectmapreduce_spark.io import scratch_path
    from projectmapreduce_spark.operators.sketch import (
        KMV_DOMAIN,
        kmv_estimate,
        kmv_sketch,
    )

    k = 64
    o = scan(spark, sf_dir, "orders")
    sk = kmv_sketch(o, "o_custkey", ["o_orderpriority"], k=k).withColumnRenamed(
        "o_orderpriority", "grp"
    )
    # Persist the sketches (a13b's pattern): ONE heavy (group, hash)
    # distinct pass over the data, then every consumer — the per-group
    # estimates AND the set algebra — reads the k-rows-per-group
    # parquet back.  Without this, each of the sketch's downstream
    # references would re-execute the full distinct.
    path = scratch_path("a16_kmv_sketches")
    sk.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)

    per_grp = kmv_estimate(stored, ["grp"], k=k).select("grp", "n_hashes", "kth_min", "est")

    # Set algebra over the stored sketches: collapse each sketch to a
    # sorted array (<= k values, metadata-scale), combine A and B with
    # array kernels — union top-k, overlap, intersection estimate.
    arrs = (
        stored.filter(F.col("grp").isin("1-URGENT", "2-HIGH"))
        .groupBy("grp")
        .agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    ab = arrs.agg(
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("hs")))), 1, k
        ).alias("m"),
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("hs"))).alias("a_hs"),
        F.max(F.when(F.col("grp") == "2-HIGH", F.col("hs"))).alias("b_hs"),
    )
    k_eff = F.size("m")
    kth = F.element_at("m", -1)
    overlap = F.size(F.array_intersect(F.array_intersect("m", "a_hs"), "b_hs"))
    union_est = F.when(k_eff < k, k_eff.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_DOMAIN) / kth.cast("double")
    )
    inter = ab.select(
        F.lit("URGENT&HIGH").alias("grp"),
        overlap.cast("long").alias("n_hashes"),
        kth.alias("kth_min"),
        F.round((overlap.cast("double") / k_eff) * union_est, 2).alias("est"),
    )
    return per_grp.unionByName(inter)


@query(
    "a17_approx_top_k",
    oracle="""
SELECT event_type, count(*) AS n
FROM events
WHERE event_type IS NOT NULL
GROUP BY event_type
""",
    survey="A17",
    category="aggregate",
)
def a17_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: approx_top_k heavy-hitter sketch (Spark 4.1) — the native
    frequent-items aggregate, exercised through its FULL mergeable
    lifecycle: `approx_top_k_accumulate` builds one sketch per month
    partition, `approx_top_k_combine` merges the partials, and
    `approx_top_k_estimate` extracts the ranked items — the
    store-the-sketch pattern (a13's HLL discipline) that lets a 100 TB
    pipeline keep per-partition top-k state at O(maxItemsTracked) per
    group and re-aggregate across any time range without touching raw
    rows again.  Exactness contract making the hash check possible:
    the sketch is EXACT whenever the observed item domain fits within
    maxItemsTracked (100 here vs a 5-value domain), and k (10) exceeds
    the domain, so the estimate IS the full exact frequency table —
    no rank-boundary tie to drift cross-engine.  NULLs are excluded
    (sketch semantics), mirrored in the oracle."""
    scan(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH part AS (
          SELECT date_trunc('month', ts) AS m,
                 approx_top_k_accumulate(event_type, 100) AS acc
          FROM events
          WHERE event_type IS NOT NULL
          GROUP BY 1
        ),
        est AS (
          SELECT approx_top_k_estimate(approx_top_k_combine(acc), 10) AS e
          FROM part
        )
        SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS n
        FROM est LATERAL VIEW explode(e) AS t
        """
    )


@query(
    "a8b_listagg",
    oracle="""
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderkey) FILTER (WHERE o_orderkey < 500)
         AS status_seq,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS status_set
FROM orders
GROUP BY o_orderpriority
""",
    survey="A8",
    category="aggregate",
)
def a8b_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 extension: `listagg(...) WITHIN GROUP (ORDER BY ...)` — the
    SQL:2023 ordered string aggregate (Spark 4.1), the STANDARD
    spelling of what a8 builds from collect_set + sort_array + concat:
    the within-group ordering is declared ON the aggregate, so the
    planner sorts only the aggregation buffers, never the input frame
    (no window, no global sort).  Both forms exercised: an ordered
    value sequence under a FILTER clause (o_orderkey ordering makes
    the concatenation deterministic without a distinct pass) and
    LISTAGG(DISTINCT ... ORDER BY the value itself) — the one ordering
    DISTINCT permits.  DuckDB's string_agg carries the same ORDER BY
    extension, so the oracle is a direct re-expression."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(CASE WHEN o_orderkey < 500 THEN o_orderstatus END, ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS status_seq,
               listagg(DISTINCT o_orderstatus, '|')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS status_set
        FROM orders
        GROUP BY o_orderpriority
        """
    )


@query(
    "a18_mode_median",
    oracle="""
WITH nn AS (SELECT l_returnflag, l_quantity, l_linenumber
            FROM lineitem WHERE l_quantity IS NOT NULL),
cq AS (
  SELECT l_returnflag, l_quantity, count(*) AS n
  FROM nn GROUP BY l_returnflag, l_quantity
),
mq AS (
  SELECT l_returnflag, l_quantity AS mode_qty
  FROM cq
  QUALIFY row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY n DESC, l_quantity ASC) = 1
),
cl AS (
  SELECT l_returnflag, l_linenumber, count(*) AS n
  FROM lineitem WHERE l_linenumber IS NOT NULL
  GROUP BY l_returnflag, l_linenumber
),
ml AS (
  SELECT l_returnflag, l_linenumber AS mode_line
  FROM cl
  QUALIFY row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY n DESC, l_linenumber ASC) = 1
),
med AS (
  SELECT l_returnflag,
         quantile_cont(l_quantity::DOUBLE, 0.5) AS median_qty
  FROM lineitem GROUP BY l_returnflag
)
SELECT mq.l_returnflag, mq.mode_qty, ml.mode_line, med.median_qty
FROM mq JOIN ml USING (l_returnflag) JOIN med USING (l_returnflag)
""",
    survey="A18",
    category="aggregate",
)
def a18_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: the native exact order/frequency aggregates `mode()` and
    `median()` (Spark 3.4+) — the two everyone reaches for before
    percentile sketches exist, exercised on a double column AND an int
    column per group.

    Determinism contract making the hash check possible: `mode(col,
    true)` is the DETERMINISTIC variant — among equally-most-frequent
    values it returns the LOWEST (plain `mode()` may return any);
    the oracle re-derives exactly that rule with a count + (n DESC,
    value ASC) row_number, because DuckDB's own mode() leaves ties
    unspecified.  `median()` interpolates the middle pair on even
    counts — DuckDB's median() does too but ONLY over DOUBLE (over
    DECIMAL it returns the lower-middle, found by the round-10
    probe), so the oracle casts explicitly; interpolated halves of
    integer-valued doubles are IEEE-exact, no rounding needed.

    Scale shape: median is an exact per-group sort (the small-group
    tool — at 100 TB use a11's KLL sketch); mode is one (group,
    value) hash aggregate + a per-group top-1, the same
    two-aggregate profile as a3."""
    li = scan(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("mode(l_quantity, true)").alias("mode_qty"),
            F.expr("mode(l_linenumber, true)").alias("mode_line"),
            F.median("l_quantity").alias("median_qty"),
        )
        .select("l_returnflag", "mode_qty", "mode_line", "median_qty")
    )


@query(
    "a19_bitmap_distinct",
    oracle="""
SELECT o_orderpriority,
       count(DISTINCT o_custkey)::BIGINT AS n_distinct,
       -- floor(), not integer //: Spark's bucket formula is
       -- floorDiv(key-1, 32768)+1 and the fixtures contain custkey 0,
       -- where DuckDB's // TRUNCATES toward zero (-1//32768 = 0, vs
       -- floor = -1) and would fuse buckets 0 and 1.  Keys are far
       -- below 2^52, so the double floor is exact.
       count(DISTINCT 1 + CAST(floor((o_custkey - 1) / 32768.0) AS BIGINT))::BIGINT
         AS n_segments
FROM orders
WHERE o_custkey IS NOT NULL
GROUP BY o_orderpriority
""",
    survey="A19",
    category="aggregate",
)
def a19_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: the bitmap aggregate family (Spark 3.5 —
    `bitmap_bucket_number` / `bitmap_bit_position` /
    `bitmap_construct_agg` / `bitmap_count` / `bitmap_or_agg`): EXACT
    distinct counting over dense integer keys via fixed 4 KB (32768-
    bit) bitmap segments — the production COUNT(DISTINCT)
    acceleration.  Keys shard into numbered buckets, each (group,
    bucket) builds one bitmap, and distinct = Σ bitmap_count per
    group; a segment is mergeable by bitmap_or_agg without ever
    rescanning rows, which is the 100 TB story: per-partition
    segments persist as state and any rollup (day → month, region →
    global) is a pure bitmap OR over metadata-scale rows — the exact
    counterpart of a13b's approximate HLL-register persistence.

    Hash-checked end-to-end against first principles: the oracle
    computes the same numbers as plain COUNT(DISTINCT) plus the
    bucket formula `floorDiv(key-1, 32768) + 1` (pinned by the
    round-10 probe: key 5 → bucket 1, key 70000 → bucket 3, key 0 →
    bucket 0 — the fixtures' custkey 0 caught that DuckDB's `//`
    truncates toward zero where Spark FLOORS, so the oracle spells
    the division as an explicit floor()), so a single bit misplaced
    anywhere in the segmentation pipeline breaks the match.

    Scale shape: one (group, bucket) hash aggregate whose state is a
    fixed 4 KB buffer — like a13's HLL, the shuffle payload is
    bounded per key regardless of input size; the final per-group
    reduce touches segment counts only."""
    o = scan(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    seg = o.select(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
        F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
    )
    bitmaps = seg.groupBy("o_orderpriority", "bkt").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    return bitmaps.groupBy("o_orderpriority").agg(
        F.expr("sum(bitmap_count(bm))").cast("bigint").alias("n_distinct"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
    )
