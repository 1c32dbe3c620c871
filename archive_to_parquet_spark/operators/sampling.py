"""Deterministic sampling and dataset splitting for training pipelines.

Everything keys off an md5-derived uniform: the first 8 hex chars of
md5(seed || key) are a uniform 32-bit value, and comparing that hex
string LEXICOGRAPHICALLY against a precomputed hex threshold implements
``u < rate`` without any hex→int conversion — lowercase-hex string
order equals numeric order, and md5 is bit-identical in Spark and
DuckDB, so every sample/split decision is reproducible across engines,
runs, and cluster sizes (unlike ``df.sample``, whose output depends on
partitioning).

All operators are pure column expressions: a sample is one scan with a
pushdown-eligible filter; no shuffle, no RNG state, no Python. At 100 TB
the decision cost is one md5 per row — and membership is re-derivable
(drop the sample, keep the recipe).

Reference parity: the reference engine has no sampling surface; these
are the training-data-pipeline extensions (stratified rates per class,
train/val/test splits) a 100 TB corpus build needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hex_threshold(rate: float) -> str:
    """8-hex-digit threshold t such that P[uniform-hex8 < t] == rate
    (quantized to 1/2^32)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return "g" * 8  # sorts above every hex string: keep everything
    return format(int(rate * 2**32), "08x")


def uniform_hex_col(key: Column | str, seed: str = "") -> Column:
    """First 8 hex chars of md5(seed || key): a uniform 32-bit value as
    a lexicographically comparable lowercase-hex string. Different seeds
    give independent uniforms from the same key."""
    col = F.col(key) if isinstance(key, str) else key
    keyed = F.concat(F.lit(seed), col.cast("string"))
    return F.substring(F.md5(keyed.cast("binary")), 1, 8)


def hash_sample(
    df: DataFrame, key: Column | str, rate: float, seed: str = "sample"
) -> DataFrame:
    """Deterministic Bernoulli(rate) sample keyed on ``key``: the same
    row is kept in every run and on every engine."""
    return df.filter(uniform_hex_col(key, seed) < F.lit(hex_threshold(rate)))


def hash_split_col(
    key: Column | str, splits: dict[str, float], seed: str = "split"
) -> Column:
    """Assign each row to a named split with the given probabilities
    (must sum to ≤ 1; remainder falls into the LAST split). Cumulative
    hex thresholds ensure the assignment is a partition: each row lands
    in exactly one split, stable under resampling of the others."""
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    u = uniform_hex_col(key, seed)
    names = list(splits)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += splits[name]
        cond = u < F.lit(hex_threshold(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def stratified_sample(
    key: Column | str,
    strata: Column | str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "strata",
) -> Column:
    """Deterministic per-stratum sampling (the reproducible twin of
    ``df.sampleBy``) as a boolean keep column: each stratum value keeps
    its own rate; unlisted strata keep ``default_rate``. Filter on it
    (pushdown-eligible) or project it as a flag."""
    s = F.col(strata) if isinstance(strata, str) else strata
    u = uniform_hex_col(key, seed)
    threshold = None
    for value, rate in rates.items():
        t = F.lit(hex_threshold(rate))
        threshold = (
            F.when(s == value, t)
            if threshold is None
            else threshold.when(s == value, t)
        )
    threshold = (
        F.lit(hex_threshold(default_rate))
        if threshold is None
        else threshold.otherwise(F.lit(hex_threshold(default_rate)))
    )
    return u < threshold


def sample_fixed_per_group(
    df: DataFrame,
    group: Column | str,
    n: int,
    key: Column | str,
    seed: str = "fixed",
) -> DataFrame:
    """Exactly min(n, |group|) rows per group, uniformly WITHOUT
    replacement: rank the md5-derived uniform within each group and keep
    the n smallest. The Bernoulli samplers above give expected counts;
    this gives exact counts — the balanced-eval-set / per-source-quota
    primitive.

    Fully deterministic and engine-portable: ordering compares the
    lowercase-hex uniform lexicographically (== numerically) with the
    key as tiebreak, so a DuckDB QUALIFY twin reproduces the selection
    row-for-row — no float transforms, no libm divergence. One shuffle
    (the per-group window); at 100 TB the partition key is the group,
    so skew follows group sizes — salting is unnecessary because
    row_number over a single hot group is still a single-pass sort,
    and groups are corpus sources (few, large) by construction.
    """
    k = F.col(key) if isinstance(key, str) else key
    u = uniform_hex_col(key, seed)
    w = Window.partitionBy(
        F.col(group) if isinstance(group, str) else group
    ).orderBy(u.asc(), k.asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens: Column | str,
    context_len: int,
    shard: Column | str,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the standard LLM
    pretraining layout): within each shard, documents are laid end to
    end in id order and cut into fixed ``context_len`` chunks; a doc
    whose tokens straddle a cut is split across chunks.

    Returns per-doc placement: global token offset within the shard,
    first/last chunk index, offset inside the first chunk, and whether
    the doc spans a chunk boundary.

    Scale shape: ONE window partitioned by shard (each shard's cumsum is
    independent — no global ordering, no single-partition WindowExec);
    shard count should be ≥ cluster parallelism. Deterministic given
    (shard, id) — re-runs and engines agree, so packing is reproducible
    and resumable.
    """
    tok = F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens
    s = F.col(shard) if isinstance(shard, str) else shard
    w = (
        Window.partitionBy(s)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum(tok).over(w)
    start = end - tok
    c = F.lit(context_len)
    return df.select(
        F.col(id_col),
        s.alias("shard"),
        tok.cast("long").alias("n_tokens"),
        start.cast("long").alias("token_offset"),
        F.floor(start / c).cast("long").alias("start_chunk"),
        # empty docs occupy no tokens: end_chunk = start_chunk
        F.floor((F.greatest(end - 1, start)) / c).cast("long").alias("end_chunk"),
        (start % c).cast("long").alias("offset_in_chunk"),
        (F.floor(start / c) != F.floor(F.greatest(end - 1, start) / c))
        .cast("int")
        .alias("spans_boundary"),
    )


def global_shuffle_rank(
    df: DataFrame,
    key_col: str,
    seed: str = "shuffle",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global pseudorandom permutation — the "shuffle the
    corpus before training" step — as a two-phase distributed rank.

    Each row's shuffle key is md5(seed || key): uniform, engine-portable,
    and unique per row once tie-broken by the key itself. The global
    rank of that key IS the row's position in the shuffled training
    order.

    Scale shape: a naive ``row_number() OVER (ORDER BY h)`` moves the
    whole corpus through one partition (the unpartitioned-window
    antipattern). Instead: range-repartition on (h, key) — Spark samples
    range boundaries with deterministic per-partition seeds — then rank
    locally per partition and add per-partition row-count offsets. The
    offsets table has one row per partition (thousands, not billions);
    its cumulative sum is a window over partition ids only, and it
    broadcast-joins back. Result: two shuffles of the data (range
    partition + pid-window), one tiny metadata pass, no single-partition
    stage — the same plan at 100 TB, where per-partition slices also
    write out as ready-to-stream training shards via
    ``sortWithinPartitions``.

    Returns df columns plus ``shuffle_pos`` (0-based global position).
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    h = F.md5(
        F.concat(F.lit(seed), F.col(key_col).cast("string")).cast("binary")
    )
    keyed = df.withColumn("__h", h)
    ranged = keyed.repartitionByRange(n, "__h", key_col).withColumn(
        "__pid", F.spark_partition_id()
    )
    counts = ranged.groupBy("__pid").agg(F.count("*").alias("__n"))
    # cumulative offsets over the partition-count-sized table via a
    # broadcast triangular join (p² rows at p=partitions — metadata
    # scale), NOT an unpartitioned window: keeps the plan free of
    # single-partition WindowExec stages even in this tiny pass
    earlier = counts.select(
        F.col("__pid").alias("__pid_e"), F.col("__n").alias("__n_e")
    )
    offsets = (
        counts.join(
            F.broadcast(earlier), F.col("__pid_e") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__n_e"), F.lit(0)).alias("__off"))
    )
    w_local = Window.partitionBy("__pid").orderBy("__h", key_col)
    return (
        ranged.withColumn("__rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            "shuffle_pos", (F.col("__off") + F.col("__rn") - 1).cast("long")
        )
        .drop("__h", "__pid", "__rn", "__off")
    )


def mixture_sample(
    df: DataFrame,
    rates: DataFrame,
    source_col: str = "source",
    key: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Apply per-source sampling rates (a (source, rate) table — e.g.
    derived from temperature-scaled mixture weights) as a deterministic
    hash-Bernoulli filter: the materialized epoch's source mix follows
    the target weights, membership is re-derivable on any engine, and
    the rates table broadcasts — the corpus is filtered in one narrow
    pass with no shuffle.

    Rates are rounded to 6dp before thresholding so both engines
    quantize identically; rate ≥ 1 keeps every row.
    """
    r = F.round(F.col("rate"), 6)
    thr = F.lpad(
        F.lower(F.hex(F.floor(r * F.lit(float(2**32))).cast("long"))), 8, "0"
    )
    keep = (r >= 1.0) | (uniform_hex_col(key, seed) < thr)
    return df.join(
        F.broadcast(rates.select(source_col, "rate")), source_col
    ).filter(keep)
