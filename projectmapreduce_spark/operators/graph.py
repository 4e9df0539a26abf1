"""Iterative graph analytics (SURVEY.md §2.10 M10): PageRank — the
canonical iterative MapReduce workload (it is THE worked example of
chained MR jobs in the public literature; Dean & Ghemawat 2004 cite
link-graph processing as MapReduce's motivating application).

The Spark-first formulation replaces one-job-per-iteration-with-HDFS-
materialization by a single DAG per iteration over cached DataFrames:

- per iteration: ONE shuffle join (ranks ⋈ edges on src) + ONE
  hash-aggregate (contributions by dst).  Nothing else moves.
- both sides are pre-partitioned on the join key once
  (``repartition(id)``) so every iteration reuses the same
  partitioning instead of re-shuffling both inputs.
- lineage is truncated every iteration via ``localCheckpoint`` —
  without it the logical plan doubles per round and planning time,
  not compute, becomes the bottleneck (same recipe as
  ``operators/dedup.py:connected_components``).
- the only driver-side state per iteration is the 1-row dangling-mass
  scalar — corpus-size-independent, like the k-means centroids in
  ``operators/similarity.py``.

Semantics (standard damped PageRank): rank = (1-d)/N + d * (inbound
contributions + dangling mass / N), where dangling nodes (no
out-edges) spread their rank uniformly.  Ranks sum to 1 at every
iteration up to float error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projectmapreduce_spark.operators.dedup import _sorted_pairs


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iters: int = 10,
) -> DataFrame:
    """PageRank over a directed edge list → (id, rank).

    ``edges`` may contain duplicate (src, dst) pairs; they are
    deduplicated (simple-graph semantics).  Every node appearing as
    src OR dst participates; dangling nodes contribute uniformly.
    """
    # Round-11 (guide §2.4/§5): checkpoint the canonical edge list ONCE.
    # Before, `e` (scan → project → distinct) stayed lazy: the nodes
    # and g checkpoints each re-evaluated it, and — the real leak —
    # every iteration's dangling-mass subtree re-ran the FULL edge
    # lineage (scan + distinct shuffle + out-degree aggregate) just to
    # anti-join ranks against out_deg.  At 100 TB that is a complete
    # re-read of the input per iteration.  Now sink-ness is computed
    # once into an `is_sink` flag carried on the node/rank frames, and
    # the per-iteration dangling mass is a filter + 1-row aggregate
    # over the already-checkpointed ranks — no join, no rescan.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(out_deg, F.col("id") == F.col("src"), "left")
        .select("id", F.col("src").isNull().alias("is_sink"))
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    # Edges carry their src out-degree so each iteration's join is the
    # ONLY place ranks meet the graph; partitioned once on src.
    g = e.join(out_deg, "src").repartition("src").localCheckpoint(eager=True)

    ranks = nodes.select("id", (F.lit(1.0) / n).alias("rank"), "is_sink")
    for _ in range(n_iters):
        # dangling mass: rank parked on nodes with no out-edges —
        # same scalar as the old anti-join (is_sink ⇔ id ∉ out_deg),
        # read off the checkpointed ranks.  Round-11: it rides the
        # iteration's one materialization as a broadcast 1-row frame
        # (the m10b shape) instead of a driver collect — one job per
        # iteration, zero per-iteration driver state.  `dang / n` is
        # the same IEEE double division the collected literal
        # performed in Python.
        dang = ranks.filter("is_sink").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        contribs = (
            g.join(ranks, g.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inbound"), F.lit(0.0))
                        + F.col("dang") / F.lit(float(n))
                    )
                ).alias("rank"),
                "is_sink",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("id", "rank")


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """INTEGER-QUANTIZED PageRank → (id, rank_e12) — the engine-exact
    twin of :func:`pagerank` (round-9, the a4b/a11b/a13b recipe:
    re-express a rows-only op so a SQL oracle can hash-check it).

    The float fixpoint is rows-only by nature: per-iteration double
    sums are partition-order-dependent, and ``round(double, k)`` is
    not guaranteed to tie-break identically across engines at high k.
    This variant therefore does EVERY data-dependent step in BIGINT
    units of ``1/scale`` (damping 0.85 as the exact rational 85/100):

        r_0      = scale div N
        contrib  = r div out_deg              (per edge, floor)
        inbound  = Σ contrib                  (exact integer sum)
        dangling = Σ r over sink nodes        (exact integer sum)
        r_next   = (15·scale) div (100·N)
                 + (85 · (inbound + dangling div N)) div 100

    Integer sums are order-independent and floor division of
    non-negative operands is identical on every engine, so the result
    is bit-reproducible regardless of partitioning — which the
    unrolled-CTE DuckDB oracle checks hash-exactly.  The quantization
    truncates ≤ 1/scale per op (ranks live at ~1/N ≫ 1/scale), so the
    ranking agrees with the float fixpoint; CONVERGENCE to the true
    power iteration stays pinned on :func:`pagerank` in
    tests/test_operators.py.  Same scale design as pagerank: one
    shuffle join + one aggregate per iteration over once-partitioned
    inputs, lineage truncated per round; unlike pagerank's float loop
    the dangling mass is NOT collected — it joins back in as a
    broadcast 1-row frame, so each iteration is exactly one job (the
    eager checkpoint) with zero per-iteration driver state.
    """
    # Round-11: same per-iteration fix as :func:`pagerank` — the edge
    # list is checkpointed once, and the dangling mass no longer
    # re-runs the full edge lineage (scan + distinct + out-degree
    # aggregate + anti-join) every iteration; sink-ness is a flag on
    # the checkpointed node/rank frames and the per-iteration dangling
    # scalar is a filter + 1-row aggregate riding the SAME broadcast
    # (round-10's one-job-per-iteration shape is kept; `dang div n`
    # unchanged, so the hash is unchanged).
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(out_deg, F.col("id") == F.col("src"), "left")
        .select("id", F.col("src").isNull().alias("is_sink"))
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    g = e.join(out_deg, "src").repartition("src").localCheckpoint(eager=True)

    ranks = nodes.select("id", F.lit(scale // n).cast("long").alias("r"), "is_sink")
    base = (15 * scale) // (100 * n)
    for _ in range(n_iters):
        # Same scalar as the old anti-join (is_sink ⇔ id ∉ out_deg),
        # read off the checkpointed ranks instead of recomputing the
        # edge lineage.
        dang = ranks.filter("is_sink").agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang")
        )
        contribs = (
            g.join(ranks, g.src == ranks.id)
            .select("dst", F.expr("r div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(f"(85 * (coalesce(inbound, 0) + dang div {n})) div 100")
                ).alias("r"),
                "is_sink",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("id", F.col("r").alias("rank_e12"))


def triangle_stats(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """M11: exact triangle count + global clustering coefficient over an
    undirected simple graph — the second canonical MR graph workload
    (Cohen 2009, "Graph twiddling in a MapReduce world").

    Scale design — degree orientation, the standard trick that bounds
    the wedge blow-up: each undirected edge is oriented from the
    endpoint of LOWER (degree, id) rank to the higher one, so every
    node's out-degree is O(sqrt(m)) on any graph; counting is the
    forward algorithm over out-neighbor lists (see
    ``triangle_count_oriented`` — round 11 replaced the wedge-row
    self-join, which materialized O(m^1.5) candidate rows into a
    shuffle, with in-task sorted-list intersections doing the same
    O(m^1.5) work on O(√m)-bounded arrays).  No driver-side state.

    Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    clustering) where n_wedges counts UNORIENTED length-2 paths
    (sum_v C(deg(v), 2)) and clustering = 3·triangles / wedges.
    """
    # Canonical undirected simple edges (u < v), self-loops dropped.
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"), F.greatest(F.col(a), F.col(b)).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Triangle counting itself is the shared degree-orientation core
    # (round-5 dedup: m11b's DOULION path composes the same counter, so
    # the orientation/tie-break logic lives in exactly one place —
    # tests pin the two callers equal).  The degree frame computed for
    # n_nodes/n_wedges above is handed down so the edge list is
    # aggregated once, not twice (ADVICE r5).
    tri = triangle_count_oriented(e, deg=deg)
    counts = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            # Integer `div`, not float `/`: deg*(deg-1) on a hub node
            # can exceed 2^53, where double-precision division drops
            # low bits; div keeps the wedge count exact at any degree.
            F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias("clustering"),
    )


# DOULION sampling probability: an edge survives iff the first two hex
# chars of md5("u_v") are < '33' — exactly 51 of 256 prefixes, so
# p = 51/256.  The estimate rescales by 1/p³ = (256/51)³ using exact
# int64 arithmetic (floor division; sampled counts are ≤ ~10⁷ so the
# product stays < 2⁵³ « 2⁶³).
DOULION_HEX_BOUND = "33"
DOULION_P = 51.0 / 256.0


def triangle_count_oriented(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Exact triangle count over canonical undirected simple edges
    (columns ``u`` < ``v``, distinct) via degree orientation, returned
    as a single-row (n_triangles) frame for composition (DOULION
    rescaling, per-snapshot counting).  ``deg`` optionally supplies a
    precomputed (id, deg) frame over exactly ``e`` so a caller that
    already aggregated degrees (``triangle_stats``) does not pay the
    edge-list aggregate twice.

    Round-11 (guide §2.3 "shuffle fewer bytes" / §3.3 "explode before
    a join multiplies the shuffle"): the counter is the FORWARD
    algorithm (Schank & Wagner 2005) — per oriented edge (u, v),
    triangles += |N⁺(u) ∩ N⁺(v)| — instead of the wedge self-join.
    The wedge form MATERIALIZED every length-2 path as a row
    (Σ_v C(outdeg(v), 2) — O(m^1.5) rows) and shuffled them into the
    closing-edge join; on the sf0.1 co-supply graph that was ~10⁹
    candidate rows (82 s; 695 s at sf1, SCALING exponent 1.15).  The
    forward form does the same O(m^1.5) wedge WORK, but as an in-task
    sorted-array intersection over per-node out-neighbor lists: the
    only shuffled payloads are the m edges plus one O(√m)-bounded
    list per edge endpoint, and no wedge row ever exists.  This is
    the identical counting identity the m11 DuckDB oracle switched to
    in round 10 (the wedge explosion exhausted its spill disk —
    queries/mr_surface.py:_M11_ORACLE) — each triangle a<b<c in
    orientation rank is counted exactly once, at its base edge (a, b),
    because c ∈ N⁺(a) ∩ N⁺(b) while N⁺(b)/N⁺(c) cannot reach back
    down the orientation.  Orientation and tie-break (degree, then
    id) are UNCHANGED, so the oriented graph — and therefore the
    count — is bit-identical to the wedge form's
    (tests/test_operators.py pins trace(A³)/6 equality on random
    graphs and the m11 oracle hash-checks the composed query)."""
    if deg is None:
        deg = (
            e.select(F.col("u").alias("id"))
            .union(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=True)
    # Out-neighbor lists, sorted so the intersection is a linear merge;
    # each list is O(√m) by the orientation bound.  The groupBy and the
    # first join share the hash-partitioning on src.
    lists = oriented.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("outs"))
    lu = lists.select(F.col("src").alias("lu_src"), F.col("outs").alias("outs_u"))
    lv = lists.select(F.col("src").alias("lv_src"), F.col("outs").alias("outs_v"))
    # Inner joins: an endpoint with no out-edges has an empty N⁺ and
    # contributes 0 — dropping the row is the same sum.
    return (
        oriented.join(lu, F.col("src") == F.col("lu_src"))
        .join(lv, F.col("dst") == F.col("lv_src"))
        .select(F.size(F.array_intersect("outs_u", "outs_v")).alias("k"))
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles"))
    )


def cosupply_edges(li: DataFrame, cap: int = 64) -> DataFrame:
    """Distinct co-supply edges (u < v) — supplier pairs appearing in
    the same order — with the DEGENERACY CAP both triangle queries
    share (m11 exact, m11b DOULION estimate): orders with more than
    ``cap`` distinct suppliers are dropped BEFORE pair fan-out, because
    a single pathological order contributes C(n, 2) edges (the skew
    tier's hottest order alone: C(3634, 2) ≈ 6.6M; at 100 TB a
    degenerate key could be millions wide).  ``cap`` = 64 is far above
    the organic 99.9th percentile (10), so on clean data the capped
    graph IS the full graph — the cap only activates on adversarial
    degeneracy, where the uncapped exact count is not a slower answer
    but a non-answer (spill-disk exhaustion; round-9 skew tier ran
    with a recorded --skip for exactly this, removed in round 10 by
    making the cap part of m11's declared, oracle-mirrored semantics).

    Input: (l_orderkey, l_suppkey) rows.  The collect_set buffer is
    bounded by a conservative TWO-LEVEL pre-filter (round-8 profile —
    the "skip when a cheap upper bound clears" answer):

    1. A plain ``count(*)`` per order finds ROW-HEAVY candidates
       (> 2·cap rows).  Row count upper-bounds distinct count, so
       every order that could exceed the cap is a candidate; the
       aggregate state is 8 bytes/key vs ~4 KB of HLL registers for an
       always-on approx_count_distinct — at billions of order keys the
       partial-agg payload drops ~500×.
    2. Only candidates get an EXACT countDistinct confirmation
       (ADVICE r10: the earlier approx_count_distinct confirmation
       left a probabilistic gap — an HLL overestimate of a true
       ≤cap order would silently drop its edges and diverge from the
       oracle's exact HAVING.  The candidate set is tiny by
       construction — only orders with > 2·cap rows — so the exact
       distinct aggregate costs the same bounded two-phase shuffle
       and removes the gap entirely).  On organic data the candidate
       list is EMPTY and AQE's empty-broadcast propagation
       short-circuits the probe pass — the skip path.  A broadcast
       anti-join then drops confirmed-hot orders before collect_set
       ever buffers them.

    The exact ``size(ss) <= cap`` filter still decides the
    (cap, 2·cap] band, so the SQL oracle's exact HAVING mirrors the
    result; the degenerate key costs O(scalar + HLL registers), never
    an unbounded array in one task.  Pairs are generated map-side from
    the per-order sorted set (u < v structural from the sort); the
    localCheckpoint pins one materialization for the multiple
    downstream consumers (degree agg, wedge join, edge count)."""
    li = li.filter(F.col("l_suppkey").isNotNull()).select("l_orderkey", "l_suppkey")
    candidates = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 2 * cap)
        .select("l_orderkey")
    )
    hot = (
        li.join(F.broadcast(candidates), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_distinct"))
        .filter(F.col("n_distinct") > cap)
        .select("l_orderkey")
    )
    sets_ = (
        li.join(F.broadcast(hot), "l_orderkey", "left_anti")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss").between(2, cap))
    )
    return (
        _sorted_pairs(sets_, "ss", "u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )


def doulion_sample(e: DataFrame) -> DataFrame:
    """DOULION edge sparsification (Tsourakakis et al., KDD 2009) with
    a DETERMINISTIC coin: keep edge (u, v) iff the md5 of "u_v" starts
    below ``DOULION_HEX_BOUND`` (p = 51/256 ≈ 0.199).  md5 is a proper
    mixing function — a linear-congruential coin correlates across
    edges sharing endpoints and was measured 40% off on the dense
    co-supply fixture, vs ~14% for md5 at the same p — and both Spark
    and DuckDB evaluate the identical expression, so the sampled graph
    (and therefore the estimate) is engine-reproducible, not a seeded
    RNG artifact."""
    coin = F.substring(
        F.md5(F.concat_ws("_", F.col("u").cast("string"), F.col("v").cast("string"))),
        1,
        2,
    )
    return e.filter(coin < DOULION_HEX_BOUND)
