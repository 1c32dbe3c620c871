"""The shared stages of the near-dup and ANN operators.

Every near-dup operator in ``dedup.py`` and every ANN / clustering
operator in ``similarity.py`` is one pipeline:

    signature → bucket candidates → pair dedup with a prefilter
              → exact confirm → optional connected components

and the stages below are each written once:

- :func:`bucket_pairs` — the candidate step of every bucketed operator:
  the hot-bucket cap (:func:`cap_hot_buckets`), then the self-join on
  the bucket keys with ``a.id < b.id``;
- :func:`rare_prefix` — the AllPairs/ppjoin candidate step of the exact
  set-similarity operators: each set's rarest-shingle prefix;
- :func:`exact_jaccard` — the exact Jaccard confirm of candidate pairs;
- :func:`nearest` — the map-side-combinable ``min(struct(d, label))``
  argmin (nearest centroid, PQ encode);
- :func:`top_k` — one per-group ``row_number`` cut (final rank,
  candidate cut, n_probe selection);
- :func:`checkpoint_counted` and :func:`loop_shuffle_scope` — the
  materialization and partition sizing in front of the iterative
  (connected-components) tail.

Distance columns live next to ``dot_col`` in ``functions/vectors.py``.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def cap_hot_buckets(
    df: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    observation: Observation | None = None,
) -> DataFrame:
    """Drop rows in candidate buckets larger than ``max_bucket_size``
    before a bucket self-join, preventing the quadratic pair explosion a
    degenerate bucket (e.g. hash-identical empty docs) would cause.

    Implemented as a windowed count over the bucket key — the window
    shuffle is the same partitioning the subsequent self-join needs, so
    no extra pass over the data. When ``observation`` is given the
    truncation is reported (``rows_in_hot_buckets``, ``max_bucket_size``)
    after the caller's first action — capping is never silent.
    """
    if max_bucket_size is None:
        return df
    w = Window.partitionBy(*keys)
    counted = df.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
    if observation is not None:
        counted = counted.observe(
            observation,
            F.sum(
                F.when(F.col("__bucket_n") > max_bucket_size, 1).otherwise(0)
            ).alias("rows_in_hot_buckets"),
            F.max("__bucket_n").alias("max_bucket_size"),
        )
    return counted.filter(F.col("__bucket_n") <= max_bucket_size).drop("__bucket_n")


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    *cols: Column,
    max_bucket_size: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Candidate pairs of ``rows`` (which carry an ``id`` column): every
    pair of rows that agree on all ``keys``, as (id_a, id_b, *cols) with
    id_a < id_b. ``cols`` are expressions over the two sides, addressed
    as ``a.<col>`` / ``b.<col>``.

    The hot-bucket cap runs first (see :func:`cap_hot_buckets`); the
    self-join shuffles on ``keys`` only, so cost scales with bucket
    collisions, never n². With no keys every pair is a candidate — the
    exact all-pairs baseline (a nested-loop join). A row pair that
    collides in several buckets appears once per bucket: callers that
    bucket one row more than once dedup the pairs themselves, after
    their cheapest prefilter.
    """
    rows = cap_hot_buckets(rows, keys, max_bucket_size, observation)
    cond = reduce(
        and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col("a.id") < F.col("b.id")],
    )
    return rows.alias("a").join(rows.alias("b"), cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), *cols
    )


# Overlap bounds such as ⌈t·|x|⌉ are evaluated in doubles, and rounding
# can push one just past an integer (0.8/1.8 · 63 = 28.000000000000004,
# exactly 28): every bound is loosened by this slack so it never
# overshoots the exact one. A looser bound only adds candidates, which
# the exact confirm removes.
BOUND_SLACK = 1e-9


def rare_prefix(sh: DataFrame, threshold: float) -> DataFrame:
    """The rare-prefix rows of every shingle set in ``sh`` (id, sh):
    (id, n_sh, rank, g) for the first |x| − ⌈t·|x|⌉ + 1 shingles of
    each set, ranked by global rarity (document frequency, then the
    shingle — a total order).

    Prefix filtering is exact-preserving for any overlap-bounded
    similarity: if the overlap O ≥ ⌈t·|x|⌉, the prefixes of x and of
    any qualifying partner must share a shingle, so candidates join on
    prefix shingles only — the rarest ones, with the fewest
    collisions. Shuffle keys: shingle (document frequency), id (rank
    window)."""
    exploded = sh.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("g")
    )
    freq = exploded.groupBy("g").agg(F.count("*").alias("df_g"))
    return top_k(
        exploded.join(freq, "g"),
        "id",
        [F.col("df_g"), F.col("g")],
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - BOUND_SLACK) + 1,
        "rank",
    ).select("id", "n_sh", "rank", "g")


def exact_jaccard(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs given per-doc
    distinct shingle sets ``sh`` (id, sh); keeps pairs ≥ ``threshold``.
    Cost is O(candidates), never O(n²) — candidates came from a
    bucketed generator."""
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            shared.cast("double") / (F.size("sh_a") + F.size("sh_b") - shared),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def nearest(
    rows: DataFrame,
    group_cols: list[str],
    centres: DataFrame,
    dist: Column,
    label: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per ``group_cols`` group, the ``centres`` row minimizing ``dist``:
    returns (*group_cols, *carry, label, d). ``centres`` joins on the
    columns it shares with ``group_cols`` (a PQ codebook on its
    subspace), or meets every row when it shares none (a broadcast
    centroid table).

    ``min(struct(d, label))`` is lexicographic — nearest centre, ties
    to the smaller label — and map-side combinable: no window. The
    distance is projected before the aggregate, so the rows the
    aggregate sorts carry it instead of the centre vectors. ``carry``
    columns are constant within a group and ride the same aggregate
    (``first``), so no re-join is needed afterwards."""
    on = [c for c in group_cols if c in centres.columns]
    return (
        rows.join(centres, on or None)
        .select(*group_cols, *carry, label, dist.alias("d"))
        .groupBy(*group_cols)
        .agg(
            F.min(F.struct("d", label)).alias("best"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select(
            *group_cols,
            *carry,
            F.col(f"best.{label}").alias(label),
            F.col("best.d").alias("d"),
        )
    )


def top_k(
    df: DataFrame, by: str, order: list[Column], k: int | Column, rank_col: str
) -> DataFrame:
    """The first ``k`` rows of every ``by`` group in ``order``, numbered
    1.. in ``rank_col``. ``k`` is an int or a per-row column. One
    window shuffle on ``by``; ties are broken only by ``order``, so
    callers end it with a unique column."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


# -- the iterative tail ---------------------------------------------------------


def observed_row(obs: Observation, timeout: float | None = None) -> dict | None:
    """``obs.get`` with a bounded wait: the fused convergence probes
    rely on ``localCheckpoint`` routing through a metrics-posting
    action — on an engine where checkpoint materialization stopped
    reporting CollectMetrics, a bare ``obs.get`` would hang the loop
    forever instead of erroring.

    Returns the metric row as a dict, or ``None`` if metrics were not
    delivered within the timeout (``SPARK_GRAFT_OBS_TIMEOUT`` seconds,
    default 120); callers fall back to an explicit bounded action on
    the already-checkpointed result — correct, just one extra small
    job."""
    if timeout is None:
        timeout = float(os.environ.get("SPARK_GRAFT_OBS_TIMEOUT", "120"))
    box: dict = {}

    def _read() -> None:
        try:
            box["row"] = dict(obs.get)
        except Exception:
            pass

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout)
    return box.get("row")


def checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized with ``localCheckpoint``, and its row count
    harvested from the same job as an ``Observation`` metric (an
    explicit count only if the metric never arrives — see
    :func:`observed_row`). Downstream consumers read the materialized
    rows instead of re-running the candidate generator, and the count
    sizes :func:`loop_shuffle_scope`."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    row = observed_row(obs)
    n = int(row["n"]) if row is not None and row.get("n") is not None else df.count()
    return df, n


@contextmanager
def loop_shuffle_scope(spark, n_rows: int, rows_per_partition: int = 65536):
    """Pin ``spark.sql.shuffle.partitions`` for an iterative loop over a
    table of about ``n_rows`` rows: the session count is the ceiling
    (big graphs are untouched), but bounded tables stop paying 32 task
    launches per AQE-less checkpoint stage for ~500-row relations.
    Floor 8 keeps local parallelism. Capping the session CONF for the
    whole loop — rather than repartitioning one table — keeps every
    checkpointed table, aggregation shuffle and join co-partitioned at
    one count, so no re-exchanges appear anywhere in the loop. A
    non-integer session count (e.g. "auto") is left untouched.

    The scope also restores AQE's coalescing floor (``minPartitionSize``)
    to 1m for the loop's own jobs. The session floor is lowered so small
    CPU-heavy shuffles (shingle intersections, vector math) keep the
    cluster's parallelism — but a CC loop runs dozens of KB-sized stages
    where coalescing to 1-2 tasks is exactly right.

    Safe because every DataFrame escaping the scope is
    checkpoint-materialized inside it — nothing is lazily planned at
    the capped count after restore."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        conf_n = int(old)
    except (TypeError, ValueError):
        yield
        return
    want = -(-max(1, n_rows) // rows_per_partition)
    n = max(8, min(conf_n, want))
    min_key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old_min = spark.conf.get(min_key, None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set(min_key, "1m")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if old_min is None:
            spark.conf.unset(min_key)
        else:
            spark.conf.set(min_key, old_min)
