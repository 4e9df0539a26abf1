"""Training-data pipeline operators (SURVEY.md §2.11 L13–L16).

The ops a 100 TB pretraining-data build needs BETWEEN the classic
relational verbs: reproducible train/val/test splitting, sequence
packing into fixed token/char budgets, source-mixture sampling, and
PII redaction.  All four are pure column expressions / window
functions — JVM-side, whole-stage-codegen, no Python in the hot path —
and all are exactly mirrorable in ANSI SQL, so each declared query
carries a full value oracle.

Determinism contract: splitting and sampling decisions are pure
functions of the row's id (multiplicative hashing, Knuth 2654435761),
NOT ``rand()`` — the same row lands in the same split on every engine,
every run, every cluster size.  That is what makes a data recipe
reproducible and leak-free (a doc can never hop from test to train
between rebuilds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Knuth's multiplicative constant (2^32 / phi).  bigint-exact in both
# Spark and DuckDB for id ≤ 2^63 / 2654435761 ≈ 3.47e9; for larger id
# spaces swap in xxhash64 on BOTH sides (loses the cross-engine SQL
# oracle, keeps determinism).
_KNUTH = 2654435761
_M32 = 4294967296


def hash_bucket(id_col: Column | str, n_buckets: int = 100, salt: int = 0) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return ((c * F.lit(_KNUTH) + F.lit(salt)) % F.lit(_M32)) % F.lit(n_buckets)


def deterministic_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """L13: reproducible train/val/test assignment by hashed id.

    Embarrassingly parallel (no shuffle, no state): a projection the
    optimizer fuses into the scan.  Split fractions hold to ±hash noise
    per partition of the id space at any scale.
    """
    b = hash_bucket(id_col, 100, salt)
    return df.withColumn(
        out_col,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_sequences(
    df: DataFrame,
    stream_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    out_col: str = "chunk_id",
) -> DataFrame:
    """L14: pack ordered documents into fixed-budget chunks.

    Greedy CONTIGUOUS packing: within each stream (source shard),
    documents in ``order_col`` order accumulate into a chunk until the
    running size passes ``budget``, then a new chunk starts — the
    streaming form of context-window packing.  chunk_id =
    floor((running_sum - own_size) / budget), i.e. a doc starts a new
    chunk when the PRECEDING total crosses a budget boundary.

    One shuffle (hash by stream) + an in-partition sort — the same cost
    shape as M4 secondary sort; no per-row Python.  Oversized single
    docs (> budget) get a chunk of their own rather than an error,
    matching how packers handle overflow rows.
    """
    w = (
        Window.partitionBy(stream_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(size_col).over(w)
    return df.withColumn(out_col, F.floor((running - F.col(size_col)) / F.lit(budget)))


def mixture_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    salt: int = 1,
) -> DataFrame:
    """L15: deterministic source-mixture downsampling.

    ``weight`` is a per-row keep-percentage column (0–100), typically a
    CASE over the source column — the training-mixture recipe.  A row
    survives iff its hash bucket < weight: exact, reproducible rates
    per source, no ``rand()``, no extra pass to count.  Pure filter —
    pushes down, no shuffle.
    """
    return df.filter(hash_bucket(id_col, 100, salt) < weight)


# PII patterns restricted to syntax that parses identically as a Java
# regex (Spark) and an RE2 regex (DuckDB): character classes, bounded
# repetition — no backrefs, no lookaround.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"


def redact_pii(col: Column | str, token: str = "[REDACTED]") -> Column:
    """L16: scrub email addresses and phone-shaped digit runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, _EMAIL_RE, token), _PHONE_RE, token)


def pii_count(col: Column | str) -> Column:
    """Number of PII matches that redact_pii would scrub."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_EMAIL_RE)) + F.regexp_count(
        F.regexp_replace(c, _EMAIL_RE, ""), F.lit(_PHONE_RE)
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_frac: float = 0.05,
) -> DataFrame:
    """L19: benchmark-contamination detection — flag training documents
    sharing token n-grams with a held-out benchmark/eval set (the
    decontamination step every serious pretraining corpus runs; GPT-3
    and PaLM papers describe the same n-gram-overlap method — public
    knowledge).

    Scale shape: the benchmark side is SMALL (eval sets are thousands
    of docs, not billions) — its distinct shingle set is broadcast, so
    the training corpus is never shuffled for the match; the only
    shuffles are the per-doc distinct + count aggregates, keyed by
    doc id.  Output: (id, n_grams, n_overlap, contamination_frac,
    contaminated), one row per training doc with ≥1 n-gram.
    """
    from projectmapreduce_spark.operators.dedup import tokens_of

    train_sh = tokens_of(train, id_col, text_col, n)
    bench_sh = tokens_of(benchmark, id_col, text_col, n).select("token").distinct()
    tot = train_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    ov = (
        train_sh.join(F.broadcast(bench_sh), "token")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_grams")
    return tot.join(ov, "id", "left").select(
        "id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        frac.alias("contamination_frac"),
        (frac > max_frac).alias("contaminated"),
    )


def epoch_shuffle(
    df: DataFrame, id_col: str, epoch: int, seed: int = 0, key_col: str = "shuffle_key"
) -> DataFrame:
    """L20: epoch-reproducible global shuffle — every (epoch, seed)
    pair induces ONE deterministic permutation of the corpus,
    recomputable on any cluster size (the property training-data
    loaders need for resumable, order-reproducible epochs; rand() is
    wrong because it depends on partition layout and task replay).

    The permutation key is the same multiplicative hash family as
    deterministic_split, salted by epoch — exact bigint arithmetic,
    portable to any engine.  Materializing the order at scale is
    ``repartitionByRange(key).sortWithinPartitions(key)``: a range
    shuffle, never a single-node global sort; this helper only attaches
    the key so the caller picks when to pay that shuffle.
    """
    key = hash_bucket(id_col, _M32, salt=(seed * 1_000_003 + epoch))
    return df.withColumn(key_col, key.cast("long"))
