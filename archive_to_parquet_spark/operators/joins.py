"""Join operators Spark lacks natively: as-of join and range join.

Both are implemented as compositions of built-in ops (SURVEY.md §2.8 /
the custom-operator preference order): no Python in the hot path, no
all-pairs blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.candidates import bucket_pairs, top_k


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: for each left row, attach the right row with the
    largest ``right_time <= left_time`` (direction='backward'; 'forward'
    = smallest ``>=``), per ``on`` key.

    Implementation: union both sides tagged, one window sorted by (key,
    time) carrying ``last_value(right payload) IGNORE NULLS`` — a single
    shuffle on the key, linear scan per key, no join at all. This is the
    scalable form: a naive non-equi join is O(n·m) per key; merge_asof
    via applyInPandas materializes per-key pandas frames. The union+
    window runs wholly in Tungsten.

    Right payload columns are suffixed. Left rows with no match get
    nulls, exactly like ``pd.merge_asof``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = left.columns
    rcols = [c for c in right.columns if c not in (on, right_time)]
    r_payload = [F.col(c).alias(c + suffix) for c in rcols]

    tagged_l = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(c + suffix) for c in rcols],
    )
    tagged_r = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
        *r_payload,
    )
    both = tagged_l.unionByName(tagged_r)

    if direction == "backward":
        # right rows sort BEFORE left rows at equal time (<= semantics)
        w = (
            Window.partitionBy("__k")
            .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy("__k")
            .orderBy(F.col("__t").desc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )

    filled = both.select(
        "__is_left",
        *[F.col(c) for c in lcols],
        *[
            F.last(F.col(c + suffix), ignorenulls=True).over(w).alias(c + suffix)
            for c in rcols
        ],
    )
    return filled.filter(F.col("__is_left") == 1).drop("__is_left")


def range_join(
    left: DataFrame,
    bands: DataFrame,
    value: str,
    lo: str = "lo",
    hi: str = "hi",
) -> DataFrame:
    """Band/range join: attach the band row where ``lo <= value < hi``.

    ``bands`` is small (a dimension of intervals) → broadcast
    nested-loop with both range predicates; Spark evaluates it as
    BroadcastNestedLoopJoin, cost = |left| × |bands| comparisons with
    |bands| tiny. For large interval tables, bucketize ``value`` to
    equi-join on bucket + residual filter instead.
    """
    cond: Column = (F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi))
    return left.join(F.broadcast(bands), cond, "left")


def _deletion_self_join(
    s: DataFrame, carry: list[str], k: int, block_col: str | None
) -> DataFrame:
    """FastSS-style candidate generation for fuzzy_self_join (see its
    docstring for the exactness argument): fan each string out to all
    ≤ k-deletion variants, equi-join on the variant hash, dedup id
    pairs as BARE INTS (the big shuffle carries no strings), then
    re-attach the texts by id and verify with exact levenshtein."""
    if k > 2:
        raise ValueError("deletion strategy supports max_edits <= 2")
    t, n = F.col("t"), F.col("len")
    one = F.lit(1)
    d1 = F.transform(
        F.sequence(one, n),
        lambda i: F.concat(t.substr(one, i - one), t.substr(i + one, n)),
    )
    arrs = [F.array(t), F.when(n >= 1, d1).otherwise(F.array())]
    if k >= 2:
        d2 = F.flatten(
            F.transform(
                F.sequence(one, n - one),
                lambda i: F.transform(
                    F.sequence(i + one, n),
                    lambda j: F.concat(
                        t.substr(one, i - one),
                        t.substr(i + one, j - i - one),
                        t.substr(j + one, n),
                    ),
                ),
            )
        )
        arrs.append(F.when(n >= 2, d2).otherwise(F.array()))
    v = s.select(
        *carry, F.explode(F.array_distinct(F.concat(*arrs))).alias("var")
    ).select(
        "id",
        "len",
        *(["blk"] if block_col is not None else []),
        F.xxhash64("var").alias("vh"),
    )
    pairs = (
        bucket_pairs(
            v,
            ["vh"] + (["blk"] if block_col is not None else []),
            F.abs(F.col("a.len") - F.col("b.len")).alias("len_diff"),
        )
        .filter(F.col("len_diff") <= F.lit(k))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    names = s.select("id", "t")
    return (
        pairs.join(names.toDF("id_a", "ta"), "id_a")
        .join(names.toDF("id_b", "tb"), "id_b")
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )


def fuzzy_self_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edits: int = 2,
    q: int = 3,
    block_col: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Edit-distance similarity self-join (entity matching / dedup of
    names, titles, addresses): all pairs with levenshtein ≤ max_edits.

    NOTE on output density: the result itself can be quadratic when the
    value domain is tiny (a 90-word synthetic vocabulary makes ED≤2
    pairs a constant fraction of all pairs — no candidate filter can
    beat the output's own size). Production entity matching ALWAYS adds
    a blocking key (zip code, first token, phonetic code): pass
    ``block_col`` and candidates additionally equi-join on it, bounding
    the pair space to within-block.

    TWO exact candidate generators, picked by ``strategy``:

    - ``"deletions"`` (FastSS/SymSpell family): each string fans out to
      every variant with ≤ ``max_edits`` characters deleted; two
      strings within ED k MUST share a deletion variant (align them:
      drop A's substituted+deleted chars — ≤ k — and B's substituted+
      inserted chars — ≤ k — and the residues coincide). Candidates
      equi-join on ``xxhash64(variant)`` (a collision only ADDS a
      candidate; verification kills it). O(len^k) variants per string,
      so this is the SHORT-string engine — and the right one when the
      gram space is degenerate: on TPC-H part names (~9-15 chars from
      a ~92-word vocabulary) it generates 6.5M distinct candidates for
      5.65M true pairs (87% precision) where q-gram prefixes generate
      53M (11%) — rel_fuzzy_match at sf0.1 measured 242 s → 28 s
      (8.7×) switching engines, identical pair set.

    - ``"qgram"`` (ED-Join-style prefix filtering): one edit disturbs
      at most ``q`` q-grams, so two strings within k edits must share
      a q-gram among the ``q·k + 1`` RAREST q-grams of each (rarity =
      global document frequency, ties by gram — a total order shared
      by both sides). Candidates join only on those prefix grams. The
      LONG-string engine: variants would explode, while rare grams
      actually discriminate. Short strings (< q chars) produce no
      q-grams and are excluded.

    ``"auto"`` probes max(len) (single-row agg — the one bounded
    collect here) and picks deletions iff ``max_edits ≤ 2`` and the
    longest string ≤ 32 chars, so C(32,2)+32+1 ≈ 529 variants bounds
    the fan-out. Both paths add the length filter (|len_a − len_b| ≤
    k) and verify every candidate with the exact JVM ``levenshtein`` —
    false positives are impossible either way; the approximation
    budget is zero.

    Returns (id_a, id_b, dist) with id_a < id_b.
    """
    prefix_len = q * max_edits + 1
    base_cols = [
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
    ]
    if block_col is not None:
        base_cols.append(F.col(block_col).alias("blk"))
    s = df.select(*base_cols).withColumn("len", F.length("t"))
    carry = ["id", "t", "len"] + (["blk"] if block_col is not None else [])
    if strategy not in ("auto", "deletions", "qgram"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        max_len = (s.agg(F.max("len")).first() or [0])[0] or 0
        strategy = (
            "deletions" if max_edits <= 2 and max_len <= 32 else "qgram"
        )
    if strategy == "deletions":
        return _deletion_self_join(s, carry, max_edits, block_col)
    grams = s.select(
        *carry,
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.col("len") - q + 1, F.lit(0))),
                    lambda i: F.col("t").substr(i, F.lit(q)),
                )
            )
        ).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count("*").alias("df_g"))
    prefix = top_k(
        grams.join(freq, "g"),
        "id",
        [F.col("df_g"), F.col("g")],
        prefix_len,
        "rank",
    ).select(*carry, "g")
    return (
        bucket_pairs(
            prefix,
            ["g"] + (["blk"] if block_col is not None else []),
            F.col("a.t").alias("ta"),
            F.col("b.t").alias("tb"),
            F.abs(F.col("a.len") - F.col("b.len")).alias("len_diff"),
        )
        .filter(F.col("len_diff") <= F.lit(max_edits))
        .select("id_a", "id_b", "ta", "tb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= max_edits)
        .select("id_a", "id_b", "dist")
    )
