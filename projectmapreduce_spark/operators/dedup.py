"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.11).

Four tiers, all pure DataFrame code: no Python in the hot path, and
no interpreted lambda per token — shingles and bucket pairs are
built with generated-code array functions and generators
(``plans.inspect.interpreted_expressions`` lists what is left):

- ``exact_dedup``          — sha256 content hash, keep-first.
- ``ngram_jaccard_join``   — EXACT set-overlap similarity via a token
                             inverted-index join (the verifier).
- ``minhash_lsh_candidates`` / ``near_dup_minhash`` — MinHash + banded
                             LSH candidate generation, then exact
                             Jaccard verification of candidates only.
- ``simhash``              — 52-bit SimHash (md5-fold PRF, engine-
                             portable) + banded Hamming blocking.

Determinism: every hash is ``crc32`` (engine-stable) combined with
fixed affine coefficients from a seeded RNG — re-runs produce identical
signatures (SURVEY.md §7 hard-part (f): no ``pyspark.ml`` random hash
families).

Scale design (the whole point of LSH): the naive all-pairs Jaccard is
O(n²) — at 100 TB it's unrunnable.  MinHash-LSH is O(n · H) to sign,
O(n · B) to bucket, and the only join is an equi-join on (band,
band_key) whose output is the candidate set.  With b bands of r rows,
P(candidate) ≈ 1 − (1 − j^r)^b — tune (b, r) to the target threshold.
Hot buckets (boilerplate docs) are the skew risk: AQE skew-join
handles moderate cases; for pathological ones cap bucket size before
the pair-explode (``max_bucket`` parameter).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from projectmapreduce_spark.io import fan_out

_MERSENNE = (1 << 31) - 1  # fits: a*x < 2^62 in long arithmetic


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """L1: drop byte-identical contents, keeping the lowest id.

    One hash-partition shuffle on the 256-bit digest; survivor choice
    is deterministic (min id), unlike ``dropDuplicates``.
    """
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h", F.sha2(F.col(content_col), 256))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed("__h", "content_hash")
    )


def tokens_of(
    df: DataFrame, id_col: str, text_col: str, n: int = 1, distinct: bool = True
) -> DataFrame:
    """(id, token) pairs — n-gram shingles of the whitespace tokens.

    n=1 → unigrams; n≥2 builds positional shingles JVM-side with
    generated-code array functions (no Python, no interpreted lambda).
    ``distinct=False`` skips the dedup shuffle — correct for consumers
    where duplicates are absorbed anyway (minhash: min over a multiset
    == min over the set).

    The split class is the explicit ASCII set ``[ \\t\\n\\f\\r]``
    rather than ``\\s``: Java's ``\\s`` additionally matches vertical
    tab (\\x0B) while RE2's (DuckDB oracles) does not, so the explicit
    class keeps engine and oracle tokenization identical on EVERY
    input instead of relying on a no-\\x0B corpus guarantee.
    """
    arr = F.split(F.col(text_col), r"[ \t\n\f\r]+")
    src = fan_out(df)
    if n == 1:
        out = src.select(F.col(id_col).alias("id"), F.explode(arr).alias("token"))
    else:
        # Shingle i is (arr[i], …, arr[i+n-1]): zip arr with its n-1
        # left shifts and explode.  arrays_zip pads the shorter shifts
        # with nulls, so exactly the first size-n+1 structs have a
        # non-null last field — a doc with fewer than n tokens yields
        # ZERO shingles (the SQL twin is `CASE WHEN len(t) >= n THEN
        # ... ELSE [] END`) and a null text explodes to nothing.  Every
        # step compiles under whole-stage codegen; a higher-order
        # function here would run its lambda interpreted once per
        # token.  The split is projected first: a generator gets no
        # common-subexpression elimination, so inlined it would run the
        # regex 2n-1 times per doc.
        t = F.col("__t")
        shifts = [t] + [F.slice(t, k + 1, F.size(t)) for k in range(1, n)]
        zipped = F.arrays_zip(*[c.alias(f"t{k}") for k, c in enumerate(shifts)])
        fields = [F.col("g").getField(f"t{k}") for k in range(n)]
        out = (
            src.select(F.col(id_col).alias("id"), arr.alias("__t"))
            .select("id", F.explode(zipped).alias("g"))
            .filter(fields[-1].isNotNull())
            .select("id", F.concat_ws(" ", *fields).alias("token"))
        )
    return out.distinct() if distinct else out


def ngram_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 1,
) -> DataFrame:
    """EXACT Jaccard similarity join.  Output: (id_a, id_b, jaccard)
    with id_a < id_b and jaccard ≥ threshold.

    Candidates come from the All-Pairs/PPJoin prefix-filtering
    principle [Bayardo et al. WWW'07; Xiao et al. WWW'08 — public
    algorithms]: order tokens globally rarest-first;
    a doc of size s only indexes its first ``s − ⌈t·s⌉ + 1`` tokens.
    Any pair with J ≥ t must share an indexed token (if A∩B misses A's
    prefix, the whole intersection fits in A's suffix of ⌈t·s⌉−1 <
    t·s ≤ |A∩B| — contradiction), so candidate generation is exact-
    complete while hot tokens (highest frequency = last in the order)
    almost never get indexed.  That removes the quadratic hot-token
    blow-up of the naive inverted-index self-join — the difference
    between O(candidates) and O(Σ posting²) at corpus scale.  (On the
    sf0.1 fixture the wall time is dominated by its ~3M genuinely
    similar output pairs — an output-bound cost no exact algorithm
    avoids; the filter's win is the hot-token asymptotics, verified
    output-identical to the naive join in tests/test_prefix_filter.py.)
    """
    tok = tokens_of(df, id_col, text_col, n)
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n_tok"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    ranked = (
        tok.join(freq, "token")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("tf").asc(), F.col("token").asc())
            ),
        )
        .join(sizes, "id")
    )
    plen = F.col("n_tok") - F.ceil(F.lit(threshold) * F.col("n_tok")) + 1
    pref = ranked.filter(F.col("rnk") <= plen).select("id", "token", "n_tok")
    pa = pref.select(F.col("id").alias("id_a"), "token", F.col("n_tok").alias("n_a"))
    pb = pref.select(F.col("id").alias("id_b"), "token", F.col("n_tok").alias("n_b"))
    # LENGTH filter (standard PPJoin companion, exactness-preserving):
    # J ≥ t forces t·|A| ≤ |B| ≤ |A|/t, so size-incompatible pairs
    # die inside the prefix join before they ever materialize.
    cands = (
        pa.join(pb, on="token")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
            & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verification is ARRAY-based, not an exploded token join: the
    # first cut joined candidates back to (id, token) rows, which
    # shuffles |cands| × doc_len rows — at sf1 (50k docs, t=0.8)
    # that was ~5e9 rows and 100+ GB of spill (observed disk-full).
    # Each pair now intersects two per-doc token arrays instead.
    arrays = tok.groupBy("id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    )
    inter = _intersect_token_sets(cands, arrays)
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_tok").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _intersect_token_sets(cands: DataFrame, arrays: DataFrame, *extra) -> DataFrame:
    """The array-based verify join shared by :func:`ngram_jaccard_join`
    and :func:`near_dup_minhash`: ``(id_a, id_b, n_inter, *extra)`` for
    each candidate pair, where ``arrays`` holds ``(id, toks)`` — one
    distinct token array per doc — and ``extra`` may read the pair's
    arrays as ``ta``/``tb``.

    The per-doc table (|docs| rows) is attached to each pair and the
    intersection is ONE map-side ``array_intersect``: shuffle volume is
    O(candidates), never O(candidates × doc_len).  No join hint: the
    planner broadcasts the arrays table when its estimate fits
    ``autoBroadcastJoinThreshold`` and AQE re-checks with real sizes,
    so small fixtures get the broadcast probe and a corpus-scale table
    a shuffled equi-join on id (the candidate side is two ids per row).
    A forced broadcast here would be a certain driver OOM at 100 TB
    (tests/test_prefix_filter.py drives the sort-merge path)."""
    return (
        cands.join(
            arrays.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")),
            "id_a",
        )
        .join(
            arrays.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
            *extra,
        )
    )


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]


def minhash_signatures(
    tok: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """Wide minhash signature: (id, mh_0 … mh_{H−1}).

    One hash-aggregate pass: each input row evaluates H affine hashes
    of its token's crc32 (cheap JVM codegen'd arithmetic, common
    subexpression x = crc32 % M evaluated once) and the groupBy
    computes H ``min`` partials.  NO token×H row expansion, NO extra
    shuffle — the shuffle carries n_docs rows of H longs regardless of
    corpus size.  (The exploded (id, j, minhash) form costs H× the
    shuffle volume; measured 13 s → ~3 s at sf0.1 for the LSH query.)
    """
    params = _hash_params(num_hashes, seed)
    # Expressions are built as SQL strings: one Py4J round trip per
    # column instead of ~8, which keeps driver-side plan construction
    # fast for the 64-wide aggregate.
    withx = tok.withColumn("__x", F.expr(f"crc32(token) % {_MERSENNE}L"))
    mins = [
        F.expr(f"min(({a}L * __x + {b}L) % {_MERSENNE}L) as mh_{j}")
        for j, (a, b) in enumerate(params)
    ]
    return withx.groupBy("id").agg(*mins)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows-per-band r = num_hashes/bands; a pair collides if any band's r
    minhashes all agree.  Band key = sha256 of the band's minhash
    vector; candidates come from an equi-self-join on (band, key).
    ``max_bucket`` drops degenerate buckets (boilerplate explosion
    guard) — dropped buckets are all-identical docs that exact-dedup
    (L1) already removes upstream in a real pipeline.
    """
    r = num_hashes // bands
    sig = minhash_signatures(
        tokens_of(df, id_col, text_col, shingle_n, distinct=False), num_hashes, seed
    )
    # Band b = hash slots [b*r, (b+1)*r); key = sha256 of that slice.
    # Built map-side from the wide signature, then melted to
    # (id, band, bkey) with a single explode of `bands` structs.
    band_structs = F.expr(
        "array(%s)"
        % ",".join(
            "struct(%d as band, sha2(concat_ws(',',%s), 256) as bkey)"
            % (b, ",".join(f"cast(mh_{j} as string)" for j in range(b * r, (b + 1) * r)))
            for b in range(bands)
        )
    )
    band_key = sig.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    # ONE shuffle: hash-aggregate each bucket's members, then generate
    # the C(n,2) pairs map-side from the sorted member array (replaces
    # a window-count shuffle + an equi-self-join shuffle).  Sorting the
    # array makes id_a < id_b structural; ``sort_array``, because
    # ``array_sort``'s default comparator is an interpreted lambda.
    buckets = (
        band_key.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    return _sorted_pairs(buckets, "ids", "id_a", "id_b").distinct()


def _sorted_pairs(df: DataFrame, arr_col: str, a: str, b: str) -> DataFrame:
    """``(a, b)`` for every 2-subset of each row's sorted array column:
    element ``pos`` pairs with every element after it, so a k-element
    array yields exactly C(k, 2) rows with ``a < b`` when its elements
    are distinct.  Two chained generators under whole-stage codegen:
    no lambda is interpreted per element, and no row holds a
    C(k, 2)-element pair array (499,500 structs at k = 1000)."""
    arr = F.col(arr_col)
    return df.select(arr, F.posexplode(arr).alias("__pos", a)).select(
        a, F.explode(F.slice(arr, F.col("__pos") + 2, F.size(arr))).alias(b)
    )


def near_dup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    seed: int = 42,
) -> DataFrame:
    """L2 end-to-end: LSH candidates → exact-Jaccard verify → pairs ≥
    threshold.  Only candidate pairs pay the exact-verify cost.

    The verify is ARRAY-based (round 12, the shape
    :func:`ngram_jaccard_join` has used since its round-8 sf1
    disk-full fix): the per-doc distinct token set is ONE
    ``collect_set`` aggregate, attached to each candidate pair, and
    the intersection is a map-side ``array_intersect`` — shuffle
    volume O(candidates), never O(candidates × doc_len).  The
    previous exploded-token-join verify re-derived the tokenization
    for ``sizes``/``inter`` separately (10 documents scans, 36
    exchanges in the final plan) and shuffled |A| token rows per
    candidate pair.  ``n_inter``/``n_a``/``n_b`` are the same exact
    integers (set intersection / set sizes), so jaccard — one double
    division — and every output row are bit-identical.

    ``threshold`` must lie in (0, 1].  At or below 0 the verify would
    keep every candidate pair, including pairs sharing no token
    (``n_inter = 0``), so a non-positive threshold is refused when the
    plan is built rather than filtered per pair."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed
    )
    # ONE shuffle builds the distinct token set per doc (collect_set ==
    # the old tokens_of(distinct=True) + count/collect pair).
    arrays = (
        tokens_of(df, id_col, text_col, shingle_n, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("token").alias("toks"))
    )
    inter = _intersect_token_sets(
        cands, arrays, F.size("ta").alias("n_a"), F.size("tb").alias("n_b")
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 52) -> DataFrame:
    """SimHash per document: each distinct token votes its hash bit
    pattern ±1 per bit; the signature sign-aggregates the votes.

    The token hash is the repo's 52-bit md5 fold
    (operators/sketch.py::md5_hash52) — a PRF both engines express
    bit-identically (Spark conv(), DuckDB nibble fold), which is what
    makes the l2c query hash-checkable against a DuckDB oracle that
    re-derives the bit-majority (the a4b/a16/m10b engine-exact-twin
    recipe).  52 bits also stay inside exact-double range, so the
    signature survives any engine that widens bigints to doubles.

    Plan shape: ONE groupBy(id) with ``bits`` partial-aggregated sum
    columns (map-side combine; no per-bit row explosion — the previous
    explode form multiplied rows ×bits before the shuffle), then a
    JVM-side fold of the per-bit vote signs into the signature long.

    Output: (id, simhash: long).  Near-dup candidates come from banding
    the signature into 4×13-bit chunks (``simhash_candidates``).
    """
    from projectmapreduce_spark.operators.sketch import md5_hash52

    tok = tokens_of(df, id_col, text_col, 1)
    hashed = tok.withColumn("__h", md5_hash52("token"))
    # vote_i = +1 if bit i of the token hash is set else -1, summed
    # over the doc's distinct tokens: v_i = 2*ones_i - n where
    # ones_i = sum((h>>i)&1) and n = count(tokens).  Round 12 (guide
    # §2.4, narrower aggregate state): adjacent bit PAIRS are packed
    # into one 64-bit lane — low 32 bits count bit 2g, high 32 bits
    # count bit 2g+1 — via a 4-entry lookup on (h>>2g)&3, so the
    # aggregate carries ⌈bits/2⌉+1 sum buffers instead of ``bits``
    # and each row evaluates one shift+mask+lookup per PAIR instead
    # of shift+mask+arithmetic per BIT.  Lanes cannot carry: a lane
    # sublane holds ones ≤ n, and n < 2^31 always (a document is a
    # <2 GiB string, so it has < 2^31 whitespace tokens), keeping
    # ones_high·2^32 + ones_low < 2^63.  The recovered ones_i are the
    # same exact integers the per-bit sums produced, and the strict
    # 2*ones_i > n sign rule is algebraically identical to v_i > 0,
    # so the signature is bit-identical.
    n_lanes = (bits + 1) // 2
    # SPREAD[b] for the 2-bit value b packs (bit0, bit1) into
    # (low32, high32): [0, 1, 2^32, 2^32 + 1].
    spread = f"array(0L, 1L, {1 << 32}L, {(1 << 32) + 1}L)"
    lanes = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.expr(
                f"sum(element_at({spread}, cast(shiftright(__h, {2 * g}) & 3 as int)"
                f" + 1)) as __l{g}"
            )
            for g in range(n_lanes)
        ],
    )
    sig = None
    for i in range(bits):
        g, hi = divmod(i, 2)
        ones = (
            F.shiftright(f"__l{g}", 32)
            if hi
            else F.col(f"__l{g}").bitwiseAND(F.lit(0xFFFFFFFF))
        )
        bitval = F.when(ones * 2 > F.col("__n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bitval if sig is None else sig + bitval
    return lanes.select("id", sig.alias("simhash"))


def simhash_candidates(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 52-bit signature into 4
    13-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal),
    equi-join on (chunk_idx, chunk), verify Hamming on candidates."""
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftright(F.col("simhash"), 13 * i)
                    .bitwiseAND(F.lit(0x1FFF))
                    .alias("chunk"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("id", "simhash", F.col("c.ci").alias("ci"), F.col("c.chunk").alias("chunk"))
    a = chunks.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "ci", "chunk")
    b = chunks.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "ci", "chunk")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # Hamming is a pure function of the pair's two signatures, so
    # filtering BEFORE the distinct is the same set of rows — but the
    # dedup shuffle then carries only surviving pairs instead of every
    # chunk-collision (round 12, guide §2.3: filter before the
    # exchange).
    return (
        a.join(b, on=["ci", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list → (id, comp),
    comp = minimum node id reachable — the dedup survivor rule (the
    min-id doc represents each near-dup cluster), applied to the pair
    output of the L2 joins.

    BSP min-label propagation (the Pregel/GraphX pattern): each round
    every node takes the min of its own label and its neighbors';
    converges in O(component diameter) rounds — near-dup clusters are
    shallow (variants of a common source), so few rounds in practice.
    Per round: one shuffle join on dst + one hash-aggregate, with
    lineage truncated via localCheckpoint so the iterated plan stays
    flat instead of growing exponentially.  The driver loop is control
    flow only — the only thing collected per round is the 1-row
    convergence count.  At extreme diameters switch to the
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — public algorithm)
    for O(log² n) rounds; plain propagation is the right default for
    dedup-shaped graphs.
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_labels = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"), "comp", F.lit(False).alias("own")
        )
        # Round-11 (guide §2.4): the convergence check used to re-JOIN
        # new_labels against labels — a second shuffle join per round
        # just to count changes.  The node's own (old) label already
        # rides the union (it is the one row with own=True per id), so
        # min(comp WHERE own) re-derives it inside the SAME aggregate
        # and `changed` becomes a cheap filter-count over the
        # checkpointed result.  comp itself is the min over the same
        # multiset as before — values unchanged.
        new_labels = (
            labels.select("id", "comp", F.lit(True).alias("own"))
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("own"), F.col("comp"))).alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("comp") != F.col("__old")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels


def connected_components_star(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 50
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014 — public algorithm) → (id, comp), comp = minimum
    reachable node id.  Output-identical to ``connected_components``
    (asserted in tests/test_operators.py) but converges in
    O(log² n) rounds instead of O(diameter) — the switch-over for
    deep-diameter graphs (long chains, web/road graphs) where min-label
    propagation would need thousands of shuffle rounds.

    Per round (edges kept canonical hi→lo so "smaller neighbor" is a
    column comparison, not a filter over a symmetrized copy):

    - **large-star**: every node u connects each LARGER neighbor v to
      m(u) = min(Γ(u) ∪ {u}) — one symmetric groupBy-min + one join.
    - **small-star**: every node u connects its smaller neighbors and
      itself to min(Γ≤(u) ∪ {u}) — one groupBy-min on the canonical
      list + one join.

    The paper proves the edge count never grows above the input size
    and the alternation converges to stars (every node pointing at its
    component min) in O(log² n) rounds w.h.p.  Lineage is truncated
    per round (localCheckpoint) exactly like the propagation variant,
    and the only driver-side value per round is the 1-row
    changed-edge count.
    """
    orig_nodes = (
        edges.select(F.col(id_a).alias("id"))
        .union(edges.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Canonical hi→lo simple edges.
    e = (
        edges.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # -- large-star: (node, nbr) both directions; m = min(nbrs ∪ {node});
        #    emit (nbr, m) for every nbr > node.
        sym = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
            e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        mins = (
            sym.groupBy("node")
            .agg(F.min("nbr").alias("__mn"))
            .select("node", F.least(F.col("node"), F.col("__mn")).alias("m"))
        )
        large = (
            sym.filter(F.col("nbr") > F.col("node"))
            .join(mins, "node")
            .select(F.col("nbr").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star on the canonical (hi→lo) list: per u over its
        #    smaller neighbors S, m = min(S); emit (u, m) and (s, m) ∀s∈S.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        withm = large.join(smins, "u")
        small = (
            withm.select(F.col("u").alias("a"), F.col("m").alias("b"))
            .union(
                withm.filter(F.col("v") != F.col("m")).select(
                    F.col("v").alias("a"), F.col("m").alias("b")
                )
            )
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = small.join(e, ["u", "v"], "left_anti").count()
        same_size = small.count() == e.count()
        e = small
        if changed == 0 and same_size:
            break
    # At convergence the edge set is a star forest: u → component min.
    star = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return orig_nodes.join(star, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )
