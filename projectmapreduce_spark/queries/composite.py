"""Composite analytics queries (SURVEY.md §2.12, C1–C2): multi-join +
aggregate + top-k pipelines in the classic TPC-H Q3/Q5 shapes, run over
the driver's TPC-H-ish star schema.

These exist to prove the operators COMPOSE into the plans a warehouse
actually runs: selective dimension filters pushed to the scans, small
sides broadcast, one shuffle for the aggregate, and a top-k that never
globally sorts the facts.
"""

from __future__ import annotations

import datetime
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projectmapreduce_spark.functions import dround, money_sum
from projectmapreduce_spark.io import scan
from projectmapreduce_spark.queries.registry import query


@query(
    "c1_shipping_priority",
    oracle="""
SELECT l_orderkey,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-01-01'
  AND l_shipdate  > DATE '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    survey="C1,J2,A1,O3",
    category="composite",
)
def c1_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 (TPC-H Q3 shape): top-10 unshipped orders by revenue for one
    market segment.  The segment filter reaches the customer scan and
    the date filters reach the orders/lineitem scans (PushedFilters);
    customer⋈orders broadcasts the filtered customer side; the only
    fact shuffle is the revenue hash-aggregate; the top-10 is a
    TakeOrdered over the (small) aggregated output, never a global
    sort of lineitem.  Tiebreak on l_orderkey AFTER rounding makes the
    limit boundary engine-deterministic."""
    c = scan(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = scan(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = scan(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "c2_regional_revenue",
    oracle="""
SELECT n_name,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    survey="C2,J10,J2,A1",
    category="composite",
)
def c2_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 (TPC-H Q5 shape): revenue by nation where customer and
    supplier share the nation, region-filtered.  All four dimension
    sides (customer, supplier, nation, region) broadcast; the region
    filter prunes nation/supplier BEFORE they reach the fact join, so
    the lineitem⋈orders join is the only shuffle-bearing edge — the
    plan you need when lineitem is 100 TB and everything else is
    gigabytes."""
    r = scan(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = scan(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = scan(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = scan(spark, sf_dir, "customer")
    o = scan(spark, sf_dir, "orders")
    li = scan(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "c3_large_order_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey AS big_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = big_orderkey
JOIN customer ON c_custkey = o_custkey
""",
    survey="C3,A6,J2,J4",
    category="composite",
)
def c3_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 (TPC-H Q18 shape): customers holding very large orders —
    aggregate-then-semi-join.  The qty rollup is the only fact shuffle;
    its HAVING output is a tiny set of orderkeys, so it joins INTO
    orders and customer as the broadcast build side — the fact table
    and the customer table are never shuffled.  At 100 TB the pattern
    generalizes: reduce first, broadcast the reduced set, never join
    fact⋈dim before the selective aggregate.  ``l_quantity`` is an
    integer-valued double, so ``sum`` is exact and the >250 gate and
    output hash are engine-deterministic with no rounding."""
    li = scan(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .withColumnRenamed("l_orderkey", "big_orderkey")
    )
    o = scan(spark, sf_dir, "orders")
    c = scan(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.big_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "c4_sql_subqueries",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders o
WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM orders)
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.09)
""",
    survey="C4,A2,J4",
    category="composite",
)
def c4_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: the SQL-text entry point with scalar and correlated
    subqueries — orders priced above twice the global average that
    also contain a deep-discount line.  The query is submitted as SQL
    over registered temp views (``spark.sql``), proving the engine's
    second API surface end-to-end: Catalyst decorrelates the EXISTS
    into a left-semi join and turns the scalar subquery into a
    broadcast of its 1-row result, so the physical plan is the same
    join/agg machinery the DataFrame queries use — no per-row
    re-execution of the subquery (the naive-interpreter trap).  Same
    SQL text runs on DuckDB as the oracle."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    scan(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM orders)
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.09)
        """
    )


@query(
    "c5_volume_shipping",
    oracle="""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS l_year,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
  AND ((sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12')
    OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10'))
GROUP BY supp_nation, cust_nation, l_year
""",
    survey="C5,J2,J10,A1,F2",
    category="composite",
)
def c5_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 (TPC-H Q7 shape): bilateral trade volume between two nations
    by ship year.  The plan to want at 100 TB: the date filter is
    pushed to the lineitem scan; supplier, customer, and both nation
    aliases broadcast (each enriched dim is nation-filtered BEFORE the
    fact join, so non-qualifying lineitems die at the first broadcast
    probe); the only shuffle of fact data is the final 3-key
    hash-aggregate, whose key space (2 nations × 2 years) is tiny."""
    n = scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_10", "NATION_12")
    sup = (
        scan(spark, sf_dir, "supplier")
        .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        scan(spark, sf_dir, "customer")
        .join(F.broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = scan(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "c6_small_qty_revenue",
    oracle="""
WITH pq AS (
  SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(CAST(round(l_extendedprice, 4) AS DECIMAL(20,4)))::DOUBLE / 7.0, 2) AS avg_yearly,
       count(*)::BIGINT AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pq   ON lineitem.l_partkey = pq.l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < pq.half_avg_qty
""",
    survey="C6,A1,J2",
    category="composite",
)
def c6_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 (TPC-H Q17 shape): revenue lost to small-quantity orders of
    one brand's parts — the correlated-scalar-subquery pattern
    (per-part average quantity) decorrelated by hand into
    aggregate-then-join, the shape Catalyst itself rewrites Q17 into.
    The per-part average is computed in ONE pass over lineitem (a
    part-key hash aggregate), then joined back; the brand filter
    reaches the part scan and the filtered part table broadcasts.
    ``l_quantity`` is integer-valued, so ``avg`` is an exact binary
    fraction and the ``<`` gate is engine-deterministic; 0.5·avg
    mirrors Q17's ``0.2·avg`` with a threshold the fixture's quantity
    range (1–50) actually exercises."""
    li = scan(spark, sf_dir, "lineitem")
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    p = scan(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq, F.col("l_partkey") == F.col("pq_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            dround(F.sum(dround("l_extendedprice", 4).cast("decimal(20,4)")).cast("double") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "c7_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE AS revenue,
       n_name,
       count(*)::BIGINT AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    survey="C7,J2,A1,O3",
    category="composite",
)
def c7_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 (TPC-H Q10 shape): top-20 customers by revenue lost to
    returned items in one year.  Both selective filters (returnflag,
    order date) are pushed to the two fact scans; nation broadcasts;
    customer⋈nation enriches AFTER the (much smaller) aggregate —
    never the raw fact stream; the top-20 is a TakeOrdered over
    aggregated customers with a post-rounding PK tiebreak so the limit
    boundary is engine-deterministic."""
    li = scan(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = scan(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1996-12-31")
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    c = scan(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "n_name", "n_lines")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "c8_min_cost_supplier",
    oracle="""
SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
       round(c.unit_cost, 2) AS unit_cost
FROM part,
     (SELECT l_partkey, l_suppkey,
             l_extendedprice / l_quantity AS unit_cost
      FROM lineitem) c,
     supplier, nation
WHERE p_partkey = c.l_partkey
  AND s_suppkey = c.l_suppkey
  AND n_nationkey = s_nationkey
  AND p_size BETWEEN 10 AND 15
  AND c.unit_cost = (SELECT min(l_extendedprice / l_quantity)
                     FROM lineitem l2
                     WHERE l2.l_partkey = c.l_partkey)
""",
    survey="C8,A1,J2",
    category="composite",
)
def c8_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: cheapest supplier per part (TPC-H Q2 shape) — the
    correlated-min subquery, decorrelated by hand into
    aggregate-then-join.

    The naive reading re-scans lineitem once per candidate row; the
    agg-then-self-join decorrelation costs the fact shuffle TWICE
    (aggregate + join probe).  The scale-correct plan shuffles the
    (broadcast-part-pruned) fact ONCE on partkey and computes the
    min as a partition-local window — the winner filter is then a
    zero-shuffle row predicate on the same partitioning, which the
    DISTINCT immediately reuses (partkey is a prefix of its keys).
    At 100 TB: one fact scan, one fact shuffle, broadcast
    supplier/nation enrichment of the tiny winner set.  unit_cost is
    a single IEEE divide — bit-identical on both engines, so the
    min-equality filter selects identical rows; rounding happens only
    at the output edge.  DISTINCT collapses multiple winning lines
    from the same (part, supplier)."""
    p = F.broadcast(
        scan(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 15))
        .select("p_partkey", "p_brand")
    )
    li = (
        scan(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
    )
    wmin = Window.partitionBy("l_partkey")
    s = F.broadcast(scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey"))
    n = F.broadcast(scan(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        li.withColumn("min_cost", F.min("unit_cost").over(wmin))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            dround("unit_cost", 2).alias("unit_cost"),
        )
        .distinct()
    )


@query(
    "c9_waiting_orders",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
""",
    survey="C9,A1,J4,J5",
    category="composite",
)
def c9_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: suppliers who alone held up multi-supplier orders (TPC-H
    Q21 shape) — EXISTS + NOT-EXISTS over the same fact, the hardest
    decorrelation in the TPC-H suite.

    The oracle keeps the textbook correlated form; the engine runs the
    aggregate form: ONE pass over (order ⋈ lineitem) builds per
    (order, supplier) the late-line count, then a per-order aggregate
    derives n_suppliers and n_late_suppliers, and the Q21 predicate
    becomes a row filter (supplier was late, order has ≥2 suppliers,
    exactly 1 late supplier).  numwait sums the qualifying suppliers'
    late LINES (Q21 counts l1 rows, not orders).  At 100 TB this is
    two key-local shuffles (orderkey, then suppkey) instead of three
    correlated re-scans of the fact; the F-status filter is pushed to
    the orders scan and the supplier name join is broadcast."""
    o = scan(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    # NULL-suppkey lines must be invisible to the per-order supplier
    # stats: in the correlated form `l2.l_suppkey <> l1.l_suppkey` is
    # never TRUE for a null row, so such lines witness neither
    # "another supplier exists" nor "another supplier was late".
    # Without this guard the window counts treated the null group as a
    # supplier (caught by the hostile-domain sweep).
    li = (
        scan(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    per_supp = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
                "int"
            ),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("is_late").alias("n_late_lines"))
    )
    w = Window.partitionBy("l_orderkey")
    qualified = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supp", F.sum((F.col("n_late_lines") > 0).cast("int")).over(w)
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    s = F.broadcast(scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        qualified.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
    )


@query(
    "c10_inactive_high_balance",
    oracle="""
SELECT c_nationkey % 10 AS cntrycode,
       count(*) AS numcust,
       round(sum(CAST(round(c_acctbal, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS totacctbal
FROM customer
WHERE c_nationkey % 10 IN (0, 1, 2, 3, 4)
  AND c_acctbal > (SELECT sum(CAST(round(c_acctbal, 4) AS DECIMAL(20,4)))::DOUBLE
                          / count(c_acctbal)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
""",
    survey="C10,A2,J5",
    category="composite",
)
def c10_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: country-coded wealth sitting idle (TPC-H Q22 shape) —
    scalar subquery threshold + anti-join on order existence.

    "Inactive" = no order since 1999 (a bare no-orders-ever predicate
    is vacuous under the fixtures' referential integrity — every
    customer has orders — so the anti-join would verify nothing; the
    date filter both makes the predicate real and pushes down to the
    orders scan).  The global positive-balance average is ONE tiny
    aggregate broadcast as a 1-row cross join (never per-row
    re-evaluated); customers above it are anti-joined against the
    date-pruned orders on custkey —
    at scale a broadcast of the distinct custkeys is impossible, so
    this is the one shuffle in the plan, and AQE converts it to a
    broadcast when the filtered customer side is small.  The threshold
    itself must be ORDER-INDEPENDENT to compare identically on both
    engines: avg(double) is not (summation order), so both sides use
    the exact-decimal-sum / count idiom from the money contract
    (functions/rounding.py:money_sum) and compare against the same
    bit-exact double."""
    c = scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    pos = c.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (
            F.sum(dround("c_acctbal", 4).cast("decimal(20,4)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    o = (
        scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        c.filter((F.col("c_nationkey") % 10).isin(0, 1, 2, 3, 4))
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "c11_top_revenue_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
    -- mirror the engine's null guard: without it a NULL-suppkey line
    -- group would set the max and then vanish in the supplier join
    -- (caught by the hostile-domain sweep)
    AND l_suppkey IS NOT NULL
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    survey="C11,A1,A2",
    category="composite",
)
def c11_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: the quarter's top supplier(s) by revenue (TPC-H Q15 shape)
    — an aggregate consumed TWICE, once for the max scalar and once as
    the join input.

    The revenue aggregate is computed from the date-pruned fact scan
    exactly once: Spark's plan reuses the shuffle exchange for both
    consumers (ReusedExchange), so the 100 TB cost is one fact scan +
    one suppkey shuffle, then a 1-row max broadcast back onto the
    per-supplier aggregate.  Revenue equality across engines is exact
    because total_revenue follows the order-independent decimal money
    contract on both sides — ties (several suppliers at the max) are
    all returned, no arbitrary pick."""
    rev = (
        scan(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
            # Explicit null guard so BOTH consumers see the identical
            # scan subtree: the equi-join branch would otherwise push
            # isnotnull(l_suppkey) into ITS copy of the scan while the
            # max-scalar branch doesn't, and the mismatched subtrees
            # defeat exchange reuse — costing a second full fact pass.
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = F.broadcast(scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "c12_important_part_share",
    oracle="""
WITH partval AS (
  SELECT l_partkey,
         round(sum(CAST(round(l_extendedprice * l_quantity, 4) AS DECIMAL(20,4))), 2)::DOUBLE
           AS part_value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey < 5
  GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM partval
WHERE part_value >
      (SELECT 0.001 * (sum(CAST(part_value AS DECIMAL(20,2)))::DOUBLE) FROM partval)
""",
    survey="C12,A1,A2",
    category="composite",
)
def c12_important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: parts holding an outsized share of a nation-group's traded
    value (TPC-H Q11 shape) — group aggregate compared against a
    fraction of its own grand total.

    Same reuse discipline as C11: the per-part aggregate feeds both
    the grand-total scalar and the filter, so the fact is scanned and
    shuffled once; the supplier nation filter rides a broadcast probe
    on the scan side, killing ~80% of lines before the shuffle.  The
    grand total is EXACT: the per-part values are cent-quantized by
    the money contract, so they are summed as DECIMAL(20,2) (an
    order-independent integer sum — a double accumulation would be
    order-dependent in the last ulps, and a part landing inside that
    window would flip inclusion cross-engine), cast to double ONCE,
    then multiplied by the threshold fraction in one IEEE op that is
    identical on both engines."""
    s = F.broadcast(
        scan(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey")
    )
    partval = (
        scan(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("part_value")
        )
    )
    total = partval.agg(
        (
            F.lit(0.001)
            * F.sum(F.col("part_value").cast("decimal(20,2)")).cast("double")
        ).alias("threshold")
    )
    return (
        partval.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@query(
    "c13_market_share",
    oracle="""
WITH trade AS (
  SELECT year(o_orderdate) AS o_year,
         round(l_extendedprice * (1 - l_discount), 4) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'AMERICA'
    AND p_type = 'ECONOMY'
    AND o_orderdate >= DATE '1996-01-01'
    AND o_orderdate <  DATE '1998-01-01'
)
SELECT o_year,
       round(
         (sum(CASE WHEN supp_nation = 'NATION_7'
                   THEN CAST(volume AS DECIMAL(20,4)) ELSE CAST(0 AS DECIMAL(20,4)) END)::DOUBLE)
         / (sum(CAST(volume AS DECIMAL(20,4)))::DOUBLE), 4) AS mkt_share
FROM trade
GROUP BY o_year
""",
    survey="C13,J10,A1,F4",
    category="composite",
)
def c13_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: one nation's share of a region's trade in a part type, per
    order year (TPC-H Q8 shape) — conditional aggregate over a
    region/type/date-filtered star.

    All five dimension sides (part pruned to one type, customer,
    both nation roles, region, supplier) broadcast; the date filter is
    pushed to the orders scan, so lineitem joins an already-pruned
    orders side and the only fact shuffle is the 2-row year aggregate.
    The share is a ratio of two DECIMAL-exact sums: numerator and
    denominator are order-independent integers under the money
    contract, cast to double once, divided in one IEEE op and rounded
    with the engine-stable formula — the same discipline that keeps
    c12's threshold compare stable at sf1.  At 100 TB nothing here
    materializes more than (n_years × n_nations) rows past the scan."""
    r = scan(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = scan(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_nationkey"))
    c = scan(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_nationkey")
    ).select("c_custkey")
    o = scan(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    p = scan(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    sn = scan(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    s = scan(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_nationkey")
    ).select("s_suppkey", "supp_nation")
    li = scan(spark, sf_dir, "lineitem")
    vol = dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
        "decimal(20,4)"
    )
    zero = F.lit(0).cast("decimal(20,4)")
    trade = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return trade.groupBy("o_year").agg(
        dround(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            4,
        ).alias("mkt_share")
    )


@query(
    "c14_nation_profit",
    oracle="""
SELECT sn.n_name AS nation,
       year(o_orderdate) AS o_year,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY sn.n_name, year(o_orderdate)
""",
    survey="C14,J10,A1,F2",
    category="composite",
)
def c14_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: per-nation, per-year profit on a product family (TPC-H Q9
    shape).  The schema has no partsupp, so supply cost is the
    deterministic proxy 0.6 × p_retailprice — the plan shape (fact ⋈
    orders with part-family broadcast pruning, supplier→nation
    enrichment, two-key aggregate) is exactly Q9's.

    The name-LIKE filter prunes part BEFORE broadcast, so the fact
    scan drops ~5/6 of lines at the probe; orders joins shuffle-side
    only to supply the year.  The profit expression mixes a revenue
    term and a cost term in ONE dround(…, 4) quantization so the
    money contract applies to the NET amount (quantizing the two
    terms separately would double the rounding step and diverge from
    the oracle).  25 nations × 7 years out — aggregate output is
    trivially small at any scale."""
    p = F.broadcast(
        scan(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = F.broadcast(scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(
        scan(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    )
    o = scan(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = scan(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == F.col("p_partkey"))
        .join(s, li.l_suppkey == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(money_sum(amount).alias("profit"))
    )


@query(
    "c15_late_priority",
    oracle="""
SELECT year(l_shipdate) AS ship_year,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY year(l_shipdate)
""",
    survey="C15,J1,A1,F4",
    category="composite",
)
def c15_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15: priority mix of badly late shipments, per ship year (TPC-H
    Q12 shape — the schema has no l_shipmode/l_receiptdate, so the
    grouping key is ship year and "late" is ship > order + 90 days).

    The lateness predicate correlates the two join sides, so it runs
    as a post-join filter on the single fact⋈orders shuffle — there
    is nothing else: the CASE-sums are map-side partial aggregates
    and the output is one row per year.  The canonical
    Q12 CASE-pivot (two conditional counts in one pass) replaces what
    would naively be two filtered joins."""
    o = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "c16_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
""",
    survey="C16,J3,A1,A2",
    category="composite",
)
def c16_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16: customer distribution by order count, zero-order customers
    included (TPC-H Q13 shape — the comment anti-filter becomes a
    priority filter, same left-outer semantics).

    Q13's trap is the LEFT JOIN + COUNT(col): customers with no
    qualifying orders must survive with c_count = 0.  The scale plan
    aggregates orders per custkey FIRST (one fact shuffle, tiny
    output) and left-joins customer against that small aggregate —
    never the raw fact — with coalesce(cnt, 0) restoring the zero
    bucket; the second aggregate is over per-customer rows, and the
    histogram output is a few dozen rows at any corpus size.  The
    filter on the join's RIGHT side (oracle: in the ON clause) runs
    as a pushed scan filter before the first aggregate — identical
    semantics, scan-level cost."""
    per_order = (
        scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = scan(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_order, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "c17_promo_revenue",
    oracle="""
SELECT round(
         100.0 * (sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))
                      ELSE CAST(0 AS DECIMAL(20,4)) END)::DOUBLE)
         / (sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4)))::DOUBLE),
         2) AS promo_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1997-09-01'
  AND l_shipdate <  DATE '1997-10-01'
""",
    survey="C17,J2,A2,F4",
    category="composite",
)
def c17_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17: share of one month's revenue from promo parts (TPC-H Q14
    shape) — conditional-over-total ratio in a single global
    aggregate.

    The month filter reaches the lineitem scan (partition-prunable on
    a date-partitioned layout); part broadcasts, so the plan is scan →
    broadcast probe → one global partial/final aggregate — no shuffle
    wider than one row.  Numerator and denominator use the decimal
    money contract and meet in a single IEEE divide + stable round,
    the same ratio discipline as c13."""
    p = F.broadcast(scan(spark, sf_dir, "part").select("p_partkey", "p_type"))
    li = scan(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    vol = dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
        "decimal(20,4)"
    )
    zero = F.lit(0).cast("decimal(20,4)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dround(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(vol).cast("double"),
                2,
            ).alias("promo_share")
        )
    )


@query(
    "c18_part_supplier_breadth",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    survey="C18,J2,J5,A3",
    category="composite",
)
def c18_part_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18: how many distinct (reputable) suppliers ship each part
    profile (TPC-H Q16 shape — the schema has no partsupp, so the
    part↔supplier bridge is lineitem itself; the comment-based
    complaint exclusion becomes a negative-balance exclusion).

    The NOT-IN decorrelates to a broadcast LEFT-ANTI join against the
    (tiny) excluded-supplier list — never a shuffle.  The distinct
    count collapses duplicate (profile, supplier) pairs map-side via
    the partial-distinct aggregate; the only fact shuffle keys on the
    group profile.  Part prunes brand/size at the scan before its
    broadcast.  Output cardinality is bounded by |brands|×|types|×
    |sizes| regardless of fact volume."""
    p = F.broadcast(
        scan(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = F.broadcast(
        scan(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    li = scan(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("bad_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "c19_bracket_revenue",
    oracle="""
SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(20,4))), 2)::DOUBLE
         AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
    survey="C19,J2,A2,P4",
    category="composite",
)
def c19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19: revenue from three disjunctive (brand, size, quantity)
    brackets (TPC-H Q19 shape) — the OR-of-ANDs predicate that tests
    whether the planner can still prune under disjunction.

    The part side is pre-filtered to the UNION of the brand/size
    brackets (the disjunction's part-only envelope) before broadcast,
    and the quantity envelope (1..30) is pushed to the fact scan —
    both are implied-predicate rewrites a user would otherwise lose
    under a single OR expression.  The exact three-way disjunction
    then runs as a post-probe row filter.  One global money aggregate;
    no shuffle beyond the 1-row final."""
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    p = F.broadcast(
        scan(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#1", "Brand#12", "Brand#23")
            & F.col("p_size").between(1, 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = scan(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(b1 | b2 | b3)
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "c20_priority_check",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
    survey="C20,J4,A1",
    category="composite",
)
def c20_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20 (TPC-H Q4 shape): order-priority counts for one quarter's
    orders that have at least one late line (EXISTS per order; the
    fixtures carry no commit/receipt dates, so "late" = shipped >30
    days after order date, the same lateness proxy as C9).

    The oracle keeps the textbook correlated EXISTS; the engine runs
    the decorrelated form: the quarter filter is pushed to the orders
    scan, the fact joins it on orderkey and the late predicate becomes
    a row filter, then an order-key aggregate realizes the EXISTS
    (any late line → the order counts once) — because the aggregate
    keys on the join key, it reuses the join's partitioning, so the
    whole query is ONE fact shuffle (or zero when AQE broadcasts the
    quarter's orders) + a tiny priority agg.  No hint on the
    orders⋈lineitem edge: a quarter of orders at 100 TB does not
    broadcast, and AQE upgrades it at small SF."""
    o = (
        scan(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        late.groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("_n_late"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "c21_concentrated_suppliers",
    oracle="""
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_suppkey IS NOT NULL
    GROUP BY l_partkey, l_suppkey
    HAVING 2 * sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate <  TIMESTAMP '1998-01-01'
                        THEN CAST(l_quantity AS DECIMAL(20,4))
                        ELSE CAST(0 AS DECIMAL(20,4)) END)
        > sum(CAST(l_quantity AS DECIMAL(20,4)))
  )
""",
    survey="C21,J4,J2,A6",
    category="composite",
)
def c21_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 (TPC-H Q20 shape): suppliers in one nation who, for some
    'small%' part, shipped MORE THAN HALF of that (part, supplier)
    pair's all-time quantity inside 1997 — the nested-IN with a
    correlated half-sum threshold (the fixtures carry no partsupp /
    ps_availqty, so the Q20 threshold compares the pair's 1997 sum
    against half its lifetime sum over the same fact).

    Decorrelation: the correlated pair of sums collapses into ONE
    conditional aggregate over the part-pruned fact (both sums in the
    same groupBy — never two fact passes), the HAVING becomes a row
    filter, and the surviving supplier keys drive a broadcast semi-join
    into the nation-filtered supplier dim.  Quantities sum as exact
    DECIMAL so the >½ comparison is order-independent on both engines
    (money_sum discipline), and the threshold uses integer doubling —
    no 0.5 float.  Null supplier keys are excluded on both sides (the
    IN-subquery null trap from the hostile sweep).  One fact shuffle
    (the pair aggregate); part and the final supplier side broadcast."""
    p = (
        scan(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        scan(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    )
    in_97 = (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    qty = F.col("l_quantity").cast("decimal(20,4)")
    zero = F.lit(0).cast("decimal(20,4)")
    concentrated = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_97, qty).otherwise(zero)).alias("qty_97"),
            F.sum(qty).alias("qty_all"),
        )
        .filter(F.col("qty_97") * 2 > F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    n = scan(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = scan(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        s.join(
            F.broadcast(concentrated), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", dround("s_acctbal", 2).alias("s_acctbal"))
    )


@query(
    "c22_recursive_hierarchy",
    oracle="""
WITH RECURSIVE tree(node, root, depth, bal) AS (
  SELECT c_custkey, c_custkey, 0, c_acctbal
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, t.root, t.depth + 1, c.c_acctbal
  FROM customer c JOIN tree t
    ON CAST(floor(c.c_custkey / 10) AS BIGINT) = t.node
  WHERE c.c_custkey >= 10
)
SELECT depth,
       count(*) AS n_nodes,
       count(DISTINCT root) AS n_roots,
       round(sum(CAST(bal AS DECIMAL(20,4))), 2)::DOUBLE AS sum_bal
FROM tree GROUP BY depth ORDER BY depth
""",
    survey="C22,A1,J1",
    category="composite",
)
def c22_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22: recursive CTE (``WITH RECURSIVE``, Spark 4) — per-level
    rollup of a customer referral tree.  The hierarchy is derived
    deterministically (parent(k) = floor(k/10), roots = keys < 10) so
    both engines walk the identical DAG; each node's (root, depth) is
    computed by the recursion and aggregated per level.

    Engine notes.  Spark 4 plans the recursion as a UnionLoop: each
    iteration equi-joins the previous FRONTIER (not the accumulated
    result) against the child table, so per-iteration work is
    O(frontier ⋈ fact) with the frontier broadcastable whenever a
    level is small; depth is bounded by the key width (log10 of the
    max key — 12 levels at 100 TB scale), and the loop is guarded by
    ``spark.sql.cteRecursionLevelLimit`` (default 100).  The recursion
    never materializes the closure on the driver.  Cross-engine trap
    pinned here: ``CAST(double AS BIGINT)`` TRUNCATES in Spark but
    ROUNDS in DuckDB, so the parent derivation must go through
    ``floor()`` before the cast — the raw ``CAST(k/10 AS BIGINT)``
    form diverges on every key ending in 5..9.  Balance sums are
    exact DECIMAL (money contract), cast to DOUBLE only after the
    final round(2)."""
    scan(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE tree(node, root, depth, bal) AS (
          SELECT c_custkey, c_custkey, 0, c_acctbal
          FROM customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, t.root, t.depth + 1, c.c_acctbal
          FROM customer c JOIN tree t
            ON CAST(floor(c.c_custkey / 10) AS BIGINT) = t.node
          WHERE c.c_custkey >= 10
        )
        SELECT depth,
               count(*) AS n_nodes,
               count(DISTINCT root) AS n_roots,
               CAST(round(sum(CAST(bal AS DECIMAL(20,4))), 2) AS DOUBLE) AS sum_bal
        FROM tree GROUP BY depth ORDER BY depth
        """
    )


@query(
    "c23_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(20,4))), 2)::DOUBLE AS total,
       count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large
FROM orders
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    survey="C23,A1,P2",
    category="composite",
)
def c23_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: SQL pipe syntax (Spark 4 ``|>`` operators) — the linear
    query-composition surface, proving the engine's THIRD query API
    (DataFrame, classic SQL, piped SQL) plans to the same physical
    operators.  One year of orders |> EXTEND a large-order flag
    |> AGGREGATE per priority |> ORDER BY.  Pipe stages are purely
    syntactic: Catalyst sees the identical logical plan as the classic
    form (filter pushed to the scan, one hash-aggregate shuffle), so
    there is no plan-shape or scale cost to the surface.  The oracle
    is the classic-SQL equivalent (DuckDB has no pipe syntax), which
    is itself the point: same semantics, different notation."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
        |> EXTEND CASE WHEN o_totalprice > 200000 THEN 1 END AS large_flag
        |> AGGREGATE count(*) AS n_orders,
                     CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,4))), 2) AS DOUBLE) AS total,
                     count(large_flag) AS n_large
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "c24_lateral_topk",
    oracle="""
SELECT n.n_name, s.s_name, s.s_acctbal
FROM nation n, LATERAL (
  SELECT s_name, round(s_acctbal, 2) AS s_acctbal
  FROM supplier
  WHERE s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_name
  LIMIT 2
) s
""",
    survey="C24,O4,J1",
    category="composite",
)
def c24_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C24: correlated LATERAL subquery — the per-row derived table
    (top-2 suppliers per nation), the SQL-standard alternative to O4's
    window-rank idiom and the shape generators emit for per-entity
    top-k.  Catalyst DECORRELATES the lateral into a ranked join (the
    plan is the same window/limit machinery O4 uses — never a per-row
    re-execution of the inner query), which is the property that makes
    the surface usable at 100 TB: cost is one partitioned rank over
    the inner table, not |outer| subquery runs.  Ties broken by name;
    balances rounded inside the lateral so the rank boundary and the
    output agree on both engines."""
    scan(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    scan(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT n.n_name, s.s_name, s.s_acctbal
        FROM nation n, LATERAL (
          SELECT s_name, round(s_acctbal, 2) AS s_acctbal
          FROM supplier
          WHERE s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name
          LIMIT 2
        ) s
        """
    )


@query(
    "c25_parameterized_sql",
    oracle="""
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total
FROM orders
WHERE o_totalprice > 150000 AND o_orderdate >= DATE '1996-06-01'
GROUP BY 1
""",
    survey="C25,C4",
    category="composite",
)
def c25_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25: parameterized SQL (``spark.sql(text, args=...)``) — named
    placeholders bound server-side instead of string interpolation:
    the anti-injection surface every SQL-facing service needs, and
    binding happens at PARSE time so the literal reaches Catalyst as a
    foldable constant (pushed to the scan like any literal — zero plan
    cost vs inlining; parameterization changes safety, not the plan).
    The oracle inlines the same values."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2) AS DOUBLE)
                 AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderdate >= :cutoff
        GROUP BY 1
        """,
        args={"min_price": 150000, "cutoff": datetime.date(1996, 6, 1)},
    )


@query(
    "c26_session_variables",
    oracle="""
SELECT c_mktsegment AS c_mktsegment,
       count(*)::BIGINT AS n_cust,
       round(sum(CAST(round(c_acctbal, 4) AS DECIMAL(20,4))), 2)::DOUBLE AS total_bal,
       round((SELECT max(c_acctbal) * 0.5 FROM customer), 2)::DOUBLE AS bal_floor
FROM customer
WHERE c_acctbal > (SELECT max(c_acctbal) * 0.5 FROM customer)
  AND c_mktsegment <> 'FURNITURE'
GROUP BY 1
""",
    survey="C26,C25",
    category="composite",
)
def c26_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26: session variables + EXECUTE IMMEDIATE (VERDICT r7 task 5)
    — the notebook/ETL parameterization surface that remains after
    c25's ``spark.sql(args=...)``: DECLARE VARIABLE / SET VAR hold
    state ACROSS statements in the session, SET VAR can be fed from a
    scalar SUBQUERY (a data-derived threshold, here max(c_acctbal)/2 —
    exact double arithmetic, so both engines compute the identical
    boundary), and EXECUTE IMMEDIATE runs SQL TEXT held in a variable,
    binding parameters from variables via USING.

    Three resolutions exercised in one statement: ``:floor`` bound
    from a variable through USING, ``:seg`` bound from a literal
    through USING, and ``pmr_bal_floor`` referenced DIRECTLY by name
    inside the executed text (session-variable resolution, no
    binding).  All reach Catalyst as foldable constants at parse time
    — like c25, the surface changes statement composition, not the
    plan; the filter still pushes to the scan.  The oracle re-expresses
    the variables as scalar subqueries."""
    scan(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    spark.sql("DECLARE OR REPLACE VARIABLE pmr_bal_floor DOUBLE")
    spark.sql("SET VAR pmr_bal_floor = (SELECT max(c_acctbal) * 0.5 FROM customer)")
    spark.sql("DECLARE OR REPLACE VARIABLE pmr_stmt STRING")
    spark.sql(
        """SET VAR pmr_stmt =
        'SELECT c_mktsegment,
                count(*) AS n_cust,
                CAST(round(sum(CAST(round(c_acctbal, 4) AS DECIMAL(20,4))), 2) AS DOUBLE)
                  AS total_bal,
                round(pmr_bal_floor, 2) AS bal_floor
         FROM customer
         WHERE c_acctbal > :floor AND c_mktsegment <> :seg
         GROUP BY 1'
        """
    )
    return spark.sql(
        "EXECUTE IMMEDIATE pmr_stmt USING (pmr_bal_floor AS floor, 'FURNITURE' AS seg)"
    )


_C27_AVG = (
    "CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))) AS DOUBLE) / count(*)"
)


@query(
    "c27_sql_scripting",
    oracle=f"""
WITH t0 AS (SELECT {_C27_AVG} AS thr FROM orders),
     t1 AS (SELECT {_C27_AVG} AS thr FROM orders, t0 WHERE o_totalprice > t0.thr),
     t2 AS (SELECT {_C27_AVG} AS thr FROM orders, t1 WHERE o_totalprice > t1.thr),
     t3 AS (SELECT {_C27_AVG} AS thr FROM orders, t2 WHERE o_totalprice > t2.thr)
SELECT CAST(3 AS INT)                       AS n_iters,
       round(t3.thr, 2)                     AS thr,
       (SELECT count(*) FROM orders, t3 WHERE o_totalprice > t3.thr) AS n_above,
       CASE WHEN (SELECT count(*) FROM orders, t3 WHERE o_totalprice > t3.thr)
                 * 10 < (SELECT count(*) FROM orders)
            THEN 'tail' ELSE 'bulk' END     AS band
FROM t3
""",
    survey="C27",
    category="composite",
)
def c27_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C27: SQL scripting (Spark 4.1, ``spark.sql.scripting.enabled``)
    — procedural control flow INSIDE the SQL surface: ``BEGIN ... END``
    compound statements with scripted ``DECLARE`` locals, a ``WHILE``
    loop whose body re-runs data-dependent statements, and ``IF /
    ELSE`` branching on a queried value.  This is the third
    parameterization idiom after C25 (bound placeholders) and C26
    (session variables): the ETL-migration surface for warehouse
    procedures (Teradata BTEQ / T-SQL / PL/SQL bodies) without a
    driver-language round-trip per statement.

    The script computes an ITERATIVE trimmed threshold: thr_0 = mean
    order price, thr_{i+1} = mean price of orders ABOVE thr_i, three
    refinements — a genuinely sequential computation (each iteration's
    filter depends on the previous result) that single-statement SQL
    must UNROLL, which is exactly what the oracle does with chained
    CTEs.  Each loop body statement is one scan+aggregate job; the
    loop itself is driver-side control flow over tiny scalars, so at
    100 TB the cost is 4 aggregate passes (each a normal partial-agg
    scan), never a driver-side data structure.

    Exactness discipline: each mean is an exact DECIMAL(20,4) sum cast
    to DOUBLE, divided by an exact count — ONE float division of
    identical inputs per iteration, so the thresholds (and therefore
    the filtered row sets) are bit-identical across engines; the loop
    emits its own counter so the row proves the loop actually ran."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # Conf scoping (s22's save/restore convention): the flag only
    # gates script PARSING, so it can be restored as soon as spark.sql
    # returns — no session leakage into later queries.
    prev_scripting = spark.conf.get("spark.sql.scripting.enabled")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            f"""
        BEGIN
          DECLARE thr DOUBLE DEFAULT 0.0;
          DECLARE i INT DEFAULT 0;
          DECLARE n_above BIGINT DEFAULT 0;
          DECLARE n_total BIGINT DEFAULT 0;
          DECLARE band STRING DEFAULT '';
          SET thr = (SELECT {_C27_AVG} FROM orders);
          WHILE i < 3 DO
            SET thr = (SELECT {_C27_AVG} FROM orders WHERE o_totalprice > thr);
            SET i = i + 1;
          END WHILE;
          SET n_above = (SELECT count(*) FROM orders WHERE o_totalprice > thr);
          SET n_total = (SELECT count(*) FROM orders);
          IF n_above * 10 < n_total THEN
            SET band = 'tail';
          ELSE
            SET band = 'bulk';
          END IF;
          SELECT i AS n_iters, round(thr, 2) AS thr, n_above, band;
        END
        """
        )
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev_scripting)


@query(
    "c28_identifier_clause",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2) AS DOUBLE)
         AS total
FROM orders
WHERE o_totalprice > 100000
GROUP BY o_orderpriority
""",
    survey="C28",
    category="composite",
)
def c28_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C28: the IDENTIFIER clause (Spark 4) — parameterized
    IDENTIFIERS, the surface C25/C26 deliberately lack: a bound
    ``:param`` can only be a VALUE, so a service that templates the
    TABLE or COLUMN a query runs against is forced back to string
    interpolation (and SQL injection) without this.  ``IDENTIFIER(
    :p)`` promotes a bound string to a name at PARSE time with
    identifier validation (quoting/escaping enforced, never spliced
    as text) — here the table, the grouping column, the aggregated
    column, and the filter column all arrive as parameters.  The
    resolved plan is byte-identical to the literal query (names
    resolve during analysis; pushdown and aggregation shapes are
    unchanged), which is exactly what the literal-text oracle
    checks."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp),
               count(*) AS n_orders,
               CAST(round(sum(CAST(round(IDENTIFIER(:val), 4) AS DECIMAL(20,4))), 2)
                    AS DOUBLE) AS total
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:val) > :floor
        GROUP BY IDENTIFIER(:grp)
        """,
        args={
            "tbl": "orders",
            "grp": "o_orderpriority",
            "val": "o_totalprice",
            "floor": 100000,
        },
    )


@query(
    "c29_pandas_on_spark",
    oracle="""
SELECT o_orderpriority,
       count(*)                              AS n_orders,
       CAST(sum(o_orderkey % 100) AS BIGINT) AS key_sum,
       max(o_totalprice)                     AS max_price
FROM orders
WHERE o_totalprice > 50000
GROUP BY o_orderpriority
""",
    survey="C29",
    category="composite",
)
def c29_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C29: the pandas-on-Spark API (`pyspark.pandas`) — the engine's
    FOURTH query surface after DataFrame, classic SQL, and pipe syntax:
    pandas syntax (boolean-mask filters, column assignment, groupby /
    agg / reset_index) compiled to the SAME Catalyst plans, which is
    the migration path for the pandas codebases a data platform
    inherits.  Everything here stays lazy and distributed — no
    toPandas() — and `to_spark()` hands the logical plan back to the
    DataFrame API, so the driver's oracle machinery checks the pandas
    surface exactly like any other query.

    Determinism discipline: aggregates are exact (count, integer sum,
    double max) — no order-sensitive float summation crosses the API
    boundary.  `index_col` pins the frame index to a real column at
    read time, so the default distributed-sequence index (a
    zipWithIndex-shaped extra stage) is never materialized."""
    import pyspark.pandas as ps
    from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning

    path = f"{sf_dir}/orders.parquet"
    pdf = ps.read_parquet(path, index_col="o_orderkey")
    pdf = pdf.reset_index()
    pdf = pdf[pdf["o_totalprice"] > 50000]
    pdf = pdf.assign(key_mod=pdf["o_orderkey"] % 100)
    out = (
        pdf.groupby("o_orderpriority")
        .agg(
            n_orders=("o_orderkey", "count"),
            key_sum=("key_mod", "sum"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
    )
    # to_spark() without index_col advises that the index is dropped;
    # dropping it is the point, since keeping the default index would
    # materialize it as an extra stage.
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", PandasAPIOnSparkAdviceWarning)
        sdf = out.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("key_sum").cast("long").alias("key_sum"),
        "max_price",
    )


@query(
    "c30_group_by_all",
    oracle="""
SELECT o_orderpriority,
       o_orderstatus,
       year(o_orderdate)                     AS order_year,
       count(*)                              AS n_orders,
       CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2) AS DOUBLE)
         AS total
FROM orders
WHERE o_totalprice > 120000
GROUP BY ALL
ORDER BY ALL
""",
    survey="C30",
    category="composite",
)
def c30_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C30: `GROUP BY ALL` / `ORDER BY ALL` (Spark 4) — the
    maintenance-friendly SQL spelling where the grouping key set is
    INFERRED as every non-aggregate select item (and the ordering as
    every output column, left to right).  The point at scale is
    what it prevents: adding a projected column to a hand-listed
    GROUP BY query and forgetting to extend the key list is a silent
    semantics change (rows collapse differently); ALL keeps the
    grouping definitionally in sync with the projection.  Resolution
    happens in the analyzer — the optimized plan is identical to the
    explicit-list query (one partial+final hash aggregate, filter
    pushed to the scan).  DuckDB originated this syntax, so the
    oracle runs the IDENTICAL text.  The inferred-key contract is
    pinned by including a computed column (year) among the keys —
    misinference would change the row count, not just values."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               o_orderstatus,
               year(o_orderdate) AS order_year,
               count(*) AS n_orders,
               CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice > 120000
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ONE text for engine and oracle (the c23/c30 identical-text
# discipline): the surface under test is the ANALYZER's alias
# resolution, so the two engines must parse the very same string.
_C31_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(round(o_totalprice, 4) AS DECIMAL(20,4))), 2)
            AS DOUBLE)                    AS revenue,
       round(revenue / n_orders, 6)       AS avg_revenue,
       round(avg_revenue * 100, 2)        AS avg_cents
FROM orders GROUP BY o_orderpriority
"""


@query(
    "c31_lateral_alias",
    oracle=_C31_SQL,
    survey="C31",
    category="composite",
)
def c31_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C31: LATERAL COLUMN ALIASES (Spark 3.4+/4) — a select item
    referencing an ALIAS defined earlier in the SAME select list
    (`... AS revenue, revenue / n_orders AS avg_revenue, avg_revenue
    * 100 ...`), including over AGGREGATE expressions.  Classic SQL
    forces either a wrapping subquery per derivation step or
    expression duplication — and duplicated aggregate expressions are
    the classic silent-drift bug (one copy edited, the other missed).
    The chain here is three deep and sits in an Aggregate, the
    hardest resolution case: the analyzer must rewrite the lateral
    references onto the aggregate output, NOT re-evaluate the
    aggregates (the optimized plan is one partial+final hash agg,
    identical to the subquery spelling — plan-catalog-pinned).
    DuckDB resolves the same syntax, so the oracle runs the IDENTICAL
    text (c23/c30 discipline); the division/multiply chain starts
    from an exact DECIMAL money sum and an exact count, so every
    derived double is bit-identical cross-engine BEFORE the rounds.

    Tie-risk rationale (ADVICE r9): the identical-text contract means
    the engine runs plain `round(double, 6)` / `round(double, 2)`
    here, not the repo's dround — Spark HALF_UP on the shortest-repr
    decimal expansion vs DuckDB's scaled std::round CAN diverge
    exactly at a half boundary.  The exposure is bounded and
    accepted: 5 output groups × 2 rounded columns = 10 roundings per
    run, each a quotient/product of an exact DECIMAL sum by an exact
    count, so a boundary hit is a measure-zero coincidence of the
    data, not an accumulating process (verified green at sf0.01 and
    all three sf1 tiers).  Swapping dround in would BREAK the
    identical-text property this row exists to demonstrate — if a
    tier ever trips this, quantize the chain like m10b instead."""
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_C31_SQL)


_C32_SQL = """
SELECT /*+ BROADCAST(supplier), MERGE(orders) */
       s_nationkey,
       o_orderpriority,
       count(*) AS n_items,
       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
                           AS DECIMAL(20,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY s_nationkey, o_orderpriority
ORDER BY s_nationkey, o_orderpriority
"""


@query(
    "c32_query_hints",
    oracle=_C32_SQL,
    survey="C32",
    category="composite",
)
def c32_query_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C32: the SQL query-hint control plane (`/*+ BROADCAST(t) */`,
    `MERGE`, `SHUFFLE_HASH`, `SHUFFLE_REPLICATE_NL`, plus the layout
    family `REPARTITION` / `REBALANCE` / `COALESCE`) — how an engineer
    OVERRIDES the optimizer when its estimates are wrong, which at
    100 TB is the difference between a plan that runs and one that
    dies.  The canonical cases: a filtered dimension whose post-filter
    size CBO cannot know (force BROADCAST below the threshold check);
    a join whose build side would OOM an executor (force MERGE over a
    runtime broadcast conversion); pre-sorted/bucketed inputs where
    the sort in SMJ is pure waste (force SHUFFLE_HASH); and REBALANCE
    to let AQE size output files without a hand-picked partition
    count.

    This query pins hint PRECEDENCE end-to-end: at the test tiers
    `orders` is far under `autoBroadcastJoinThreshold`, so the
    UNHINTED plan broadcasts it — the `MERGE(orders)` hint must
    instead force a sort-merge join (and survive AQE's
    broadcast-demotion pass, which by contract does not override user
    join hints), while `BROADCAST(supplier)` keeps the dim build
    broadcast.  Both effects are asserted on the executed plan in
    tests/test_new_surfaces.py::test_c32_hints_take_effect and pinned
    by the plan-catalog facts (the forced SMJ adds exactly its two
    sort-shuffle exchanges).  Hints never change SEMANTICS — the
    oracle runs the IDENTICAL text (DuckDB parses the hint as a plain
    comment — the c23/c30/c31 identical-text discipline), so the hash
    check proves result invariance while the plan assertions prove
    the steering took effect.  Money via the exact-DECIMAL idiom
    spelled inline on both engines."""
    scan(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    scan(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    scan(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_C32_SQL)
