"""Deduplication operators (D1 + training-data near-dup family).

Exact dedup is the reference's only aggregation-class operator
(``--unique``, reference src/sink.rs:75-103): a global distinct-by-hash
where the surviving duplicate is nondeterministic (first arrival wins
across racing producers). ``dropDuplicates(["hash"])`` has exactly that
contract in Spark — deterministic *set* of hashes, nondeterministic
winner — and scales as a hash-based shuffle agg with map-side partial
dedup, not the reference's O(rows²) per-batch mask.

The near-dup operators are one pipeline, built from the stages in
``operators/candidates.py``:

    signature → bucket candidates → pair dedup with a prefilter
              → exact confirm → optional connected components

Each operator is a (signature, candidate step, confirm) triple:

- MinHash: band hashes → ``bucket_pairs`` on (band, hash) → exact
  Jaccard (``minhash_near_duplicates_confirmed``), then
  ``connected_components`` for clusters (``near_duplicate_clusters``);
- SimHash / any 64-bit hash: pigeonhole chunks → ``bucket_pairs`` on
  (table, chunk) → Hamming filter (``hamming_near_duplicates``);
- n-gram Jaccard / containment: shingle sets → ``rare_prefix`` joins →
  exact Jaccard / containment (``ngram_jaccard_pairs``,
  ``containment_pairs``);
- embeddings: hyperplane bucket or nearest centroid → ``bucket_pairs``
  → exact cosine (``embedding_near_duplicates``, ``semantic_dedup``).

Candidate generation never compares all pairs, only rows that collide
in a bucket, so cost scales with collisions rather than n². Degenerate
hot buckets (e.g. millions of empty documents hashing to one band) are
bounded by ``max_bucket_size``; truncation is never silent: pass an
``Observation`` and the query reports ``rows_in_hot_buckets`` /
``max_bucket_size`` after any action on the result.

Clusters come from one connected-components kernel,
``connected_components``: min-label propagation with Shiloach–Vishkin
parent hooking and pointer jumping, so rounds grow with the log of a
chain's length instead of with the length, and never exceed plain
propagation's. ``near_duplicate_clusters`` and
``similarity.dbscan_from_pairs`` both run it; there is no second
algorithm to choose.

The exact-span operators — aligned chunks (``dedup_chunk_spans``),
unaligned word windows (``remove_duplicated_substrings``) and
content-defined chunks (``cdc_chunk_stats``, ``gear_cdc_chunk_stats``)
— share the reference's one rule, the first occurrence wins:
``_first_occurrence`` marks every unit that is not the minimum
(id, idx) of its key. They and the per-document counters
(``remove_boilerplate_lines``, ``crossdoc_span_stats``,
``decontaminate``) end in one tail, ``_per_doc``: every input document
gets one row, and a missing statistic is its zero.

SimHash is computed entirely JVM-side: md5 halves of each shingle are
bit-vote aggregated (64 map-side-combinable sums), so the whole pipeline
stays in whole-stage codegen and — because md5 is engine-independent —
the operator is oracle-checkable bit-for-bit against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.text import word_ngrams_col, words_col
from archive_to_parquet_spark.functions.vectors import (
    cosine_from_norms,
    d2_col,
    l2_norm_col,
)
from archive_to_parquet_spark.operators.candidates import (
    BOUND_SLACK,
    bucket_pairs,
    checkpoint_counted,
    exact_jaccard,
    loop_shuffle_scope,
    nearest,
    observed_row,
    rare_prefix,
)


def dedup_exact(df: DataFrame, key: str = "hash") -> DataFrame:
    """D1: global distinct-by-hash, nondeterministic winner
    (reference src/sink.rs:75-103)."""
    return df.dropDuplicates([key])


def dedup_exact_deterministic(
    df: DataFrame, key: str = "hash", order_cols: tuple[str, ...] = ("source", "path")
) -> DataFrame:
    """Deterministic-winner variant: smallest (order_cols) row survives.
    One shuffle on `key`; AQE handles skewed hot hashes."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# -- shingling ----------------------------------------------------------------


def shingles_col(text_col: str, n: int = 3):
    """Word n-gram shingle array — see functions.text.word_ngrams_col for
    the per-row-evaluation rationale."""
    return word_ngrams_col(text_col, n)


def spread_small_scan(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition docs on id BEFORE shingle explode — but only
    when the scan arrived with fewer partitions than the cluster has
    slots. A small corpus (or a coarsely-split file layout) otherwise
    pins the whole CPU-heavy hash/explode/agg chain to a handful of
    tasks; the id repartition moves the small raw-text rows, and the
    groupBy(id) downstream reuses the partitioning (no second
    exchange). When the scan is already wide (the 100 TB case) this is
    a no-op: there the optimal plan keeps map-side partial aggregation
    — one signature-width row per id crosses the wire, far less than
    re-shuffling corpus text.

    Applied only where the per-shingle compute is hash-heavy (md5 /
    N× xxhash64 signatures) — measured 24% on simhash signatures at
    sf0.1. For cheap shingle builds (array_distinct only, e.g. the
    exact-Jaccard shingle table) the added exchange costs more than
    the parallelism buys; those call sites stay as-is.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, F.col(id_col))
    return df


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures via explode → groupBy(id) with ``num_hashes``
    ``min(xxhash64(shingle, i))`` aggregates.

    Why not a single array expression per row: Catalyst's CollapseProject
    inlines a shingle-array expression into every one of the N min-hash
    evaluations (and again into each LSH band hash), recomputing the
    split/slice chain N× per row. The explode+agg form computes shingles
    once, gets map-side partial mins (tiny shuffle: one row per (id,
    partial)), and each ``mh_i`` is a concrete attribute afterwards.
    Returns (id, mh_0..mh_{n-1}, n_shingles)."""
    exploded = spread_small_scan(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles_col(text_col, shingle_n))).alias("g"),
    )
    # one py4j call per aggregate (F.expr) instead of three — for the
    # default 32 hashes this trims ~0.1 s of plan-build driver wall
    # from every minhash-family entry; parsed expressions identical
    aggs = [
        F.expr(f"min(xxhash64(g, {seed + i}))").alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy("id").agg(*aggs, F.count("*").alias("n_shingles"))


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle set (id, sh) — the input of every exact
    confirm and of the prefix-filtered candidate generators."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles_col(text_col, shingle_n)).alias("sh"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100_000,
    observation: Observation | None = None,
) -> DataFrame:
    """LSH candidate pairs: band collision only, no similarity filter —
    maximum recall for a given banding. Returns (id_a, id_b) with
    id_a < id_b, deduplicated across bands.

    Scale: the only join is the self-equi-join on band buckets — a
    shuffle on the band hash; genuinely similar docs collide, others
    don't. At 100 TB, band-hash buckets are the unit of work; degenerate
    buckets are bounded by ``max_bucket_size`` (see cap_hot_buckets).
    """
    banded = minhash_band_index(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    return bucket_pairs(
        banded,
        ["band_idx", "band_hash"],
        max_bucket_size=max_bucket_size,
        observation=observation,
    ).dropDuplicates(["id_a", "id_b"])


def minhash_near_duplicates_confirmed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = 100_000,
    observation: Observation | None = None,
) -> DataFrame:
    """MinHash+LSH candidates confirmed by EXACT Jaccard — the
    production near-dup shape (cheap approximate candidate generation,
    exact verification on the surviving pairs only). Returns (id_a,
    id_b, jaccard) with true Jaccard ≥ threshold.

    Because verification is exact, false positives are impossible; the
    only approximation left is recall (a pair below the banding's
    collision reach is missed). This is what makes the operator
    driver-checkable: when LSH recall is 1.0 on a corpus — as it is for
    the synthetic near-dup sets, whose duplicate pairs collide in at
    least one of the 8 bands — the output EQUALS the exact-Jaccard pair
    set, which a SQL oracle computes independently.
    """
    candidates = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n,
        max_bucket_size, observation,
    )
    sh = shingle_sets(df, id_col, text_col, shingle_n)
    return exact_jaccard(candidates, sh, jaccard_threshold)


# -- SimHash (JVM-side md5 bit voting) ----------------------------------------


def simhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """64-bit SimHash per document: (id, sig long).

    Entirely JVM-side: explode shingles (NON-distinct — repeated
    shingles vote repeatedly, standard SimHash weighting) → md5 → parse
    the hex prefix as two 32-bit halves with ``conv`` (2 parses per
    shingle, not 16 nibble parses — measured 1.5× on the sf0.1 bench) →
    64 map-side-combinable ``sum(±1)`` bit votes per doc → bit b of
    ``sig`` is set iff vote b is positive. md5 (unlike xxhash64) is
    engine-independent, so a DuckDB oracle reproduces the signature
    bit-for-bit.

    Bit addressing: hex chars 1-8 are the HIGH 32 bits (big-endian hex),
    chars 9-16 the low; bit b of the 64-bit value is bit ``b % 32`` of
    the half ``hi`` iff ``b >= 32``.
    """
    grams = spread_small_scan(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(text_col, shingle_n)).alias("g"),
    )
    hexed = grams.select("id", F.md5(F.col("g").cast("binary")).alias("h"))
    halves = hexed.select(
        "id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hx_hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("hx_lo"),
    )

    # the 64 vote aggregates and the bit reassembly are built as
    # F.expr SQL strings: the Column-DSL loop cost ~1.5 s of py4j
    # round-trips per plan construction (round-11 profile — ~800
    # driver calls), the parsed expressions are identical
    def bit(b: int) -> str:
        half = "hx_hi" if b >= 32 else "hx_lo"
        return f"(shiftright({half}, {b % 32}) & 1)"

    votes = halves.groupBy("id").agg(
        *[F.expr(f"sum({bit(b)} * 2 - 1)").alias(f"v_{b}") for b in range(64)]
    )

    def half_bits(lo: int) -> str:
        return " + ".join(
            f"(CASE WHEN v_{lo + r} > 0 THEN {1 << r}L ELSE 0L END)"
            for r in range(32)
        )

    return votes.select(
        "id",
        F.expr(f"shiftleft({half_bits(32)}, 32) | ({half_bits(0)})").alias("sig"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 3,
    max_bucket_size: int | None = 100_000,
    observation: Observation | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: :func:`hamming_near_duplicates` over
    :func:`simhash_signature`. Candidate generation is EXACT (pigeonhole
    over the signature chunks); the approximation is
    simhash≈similarity. Returns (id_a, id_b, hamming:int)."""
    return hamming_near_duplicates(
        simhash_signature(df, id_col, text_col, shingle_n),
        "id",
        "sig",
        max_hamming,
        max_bucket_size,
        observation,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold, with AllPairs-style prefix
    filtering for candidate generation.

    A naive inverted index (join every doc pair sharing ANY shingle)
    explodes on hot shingles. If J(a,b) ≥ t then the overlap O ≥
    t·max(|a|,|b|), so the rare prefixes of a and b (:func:`rare_prefix`)
    must intersect: candidates join only on prefix shingles, and the
    exact score is computed per candidate with array_intersect. Shuffle
    keys: shingle (freq + candidate joins), id (rank window, score
    joins); no all-pairs stage anywhere, so the plan scales with
    candidate count, not n².
    """
    # the shingle table feeds three consumers (the prefix index and both
    # sides of the exact confirm join); materializing it trades one
    # corpus-sized spillable intermediate for three full text-scan +
    # shingle recomputations — measured ~15% at sf0.1, and at 100 TB it
    # is the difference between one corpus pass and three
    sh = shingle_sets(df, id_col, text_col, shingle_n).localCheckpoint()
    # Two exact-preserving prunes on the candidate join (ppjoin family):
    # - length filter: J ≥ t ⇒ min(|a|,|b|)/max(|a|,|b|) ≥ t;
    # - positional filter: for the FIRST common token (positions pa, pb in
    #   the shared rarity order) the remaining-suffix bound
    #   1 + min(|a|−pa, |b|−pb) ≥ O must hold when the true overlap is O,
    #   and J ≥ t ⇒ O ≥ ⌈t/(1+t)·(|a|+|b|)⌉ — prune matches below it.
    n_a, n_b = F.col("n_a"), F.col("n_b")
    t = F.lit(threshold)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (n_a + n_b) - BOUND_SLACK
    )
    ubound = 1 + F.least(n_a - F.col("r_a"), n_b - F.col("r_b"))
    candidates = (
        bucket_pairs(
            rare_prefix(sh, threshold),
            ["g"],
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
            F.col("a.rank").alias("r_a"),
            F.col("b.rank").alias("r_b"),
        )
        .filter(
            (n_b >= t * n_a - BOUND_SLACK)
            & (n_a >= t * n_b - BOUND_SLACK)
            & (ubound >= alpha)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return exact_jaccard(candidates, sh, threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC shingle containment C(a→b) = |S(a)∩S(b)| / |S(a)| ≥
    threshold — the doc-in-doc detector (quoted articles, boilerplate-
    wrapped copies, prefix extracts) that symmetric Jaccard misses:
    a 30-word extract of a 500-word article has Jaccard ≈ 0.06 but
    containment 1.0.

    Exact-preserving prefix filter (the asymmetric half of ppjoin): if
    C(a→b) ≥ t then the overlap O ≥ ⌈t·|a|⌉, so a's rare prefix
    (:func:`rare_prefix`) must share a shingle with b — candidates
    join a-prefix shingles against the FULL inverted index on the b
    side, never all-pairs. The exact score is computed per candidate
    with array_intersect; ppm integer math end to end (shared·10⁶ div
    |S(a)|), so the output hash-matches an independent SQL twin.

    Scale shape: shuffles on shingle (df counts + candidate join) and
    id (rank window, confirm joins); candidate count scales with rare-
    prefix collisions, not n². Returns ordered (id_sub, id_sup,
    containment_ppm) — both directions can appear for mutual near-dups.
    """
    # the confirm keeps ppm ≥ thr, so thr (not the float threshold)
    # bounds the overlap the prefix must guarantee
    thr = int(threshold * 1_000_000)
    # feeds the index build and both confirm sides
    sh = shingle_sets(df, id_col, text_col, shingle_n).localCheckpoint()
    prefix = rare_prefix(sh, thr / 1_000_000).select(
        F.col("id").alias("id_sub"), "g"
    )
    cand = (
        prefix.join(
            sh.select(F.col("id").alias("id_sup"), F.explode("sh").alias("g")),
            "g",
        )
        .filter(F.col("id_sub") != F.col("id_sup"))
        .select("id_sub", "id_sup")
        .distinct()
    )
    a = sh.select(F.col("id").alias("id_sub"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_sup"), F.col("sh").alias("sh_b"))
    ppm = F.expr(
        "size(array_intersect(sh_a, sh_b)) * 1000000L div size(sh_a)"
    )
    # C(a→b) ≥ t needs |S(a)∩S(b)| ≥ t·|S(a)|, and the intersection can
    # never exceed |S(b)| — so |S(b)| ≥ t·|S(a)| is IMPLIED by the ppm
    # threshold and adding it changes no result. As the first conjunct
    # of the confirm filter it short-circuits the O(|a|+|b|)
    # array_intersect for every candidate whose candidate superset is
    # too small (exact integer compare, no rounding).
    size_ok = (
        F.size("sh_b").cast("long") * 1_000_000 >= thr * F.size("sh_a").cast("long")
    )
    return (
        cand.join(a, "id_sub")
        .join(b, "id_sup")
        .filter(size_ok)
        .select("id_sub", "id_sup", ppm.alias("containment_ppm"))
        .filter(F.col("containment_ppm") >= thr)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a pair/edge list → (id, component)
    where component is the minimum id reachable from the node.

    Min-label propagation with Shiloach–Vishkin parent hooking and
    pointer jumping. Every node points at its label, an id in its own
    component; a round does three steps:

    1. neighbour-min: ``m = min(label, labels of the neighbours)`` —
       the whole of plain label propagation;
    2. hook: each node's parent (the node its label names) takes the
       smallest ``m`` of the nodes pointing to it, together with its
       own: ``h = min(m, m of the children)``;
    3. one pointer jump: ``label := min(h, h[label])``.

    Hook and jump only ever lower labels, so every round's labels are
    ≤ plain propagation's, point by point: the loop never needs more
    rounds than the O(diameter) propagation. The hook is what makes a
    chain shrink geometrically: a 2^k-node path converges in k+2 rounds
    or fewer for k = 6..14 with shuffled ids, where the jump alone
    (taking the label's label) is linear in the path length. One kernel
    covers shallow near-dup stars and deep URL-variant chains alike.
    From labels = ids a round is its neighbour-min alone, so the first
    round is the aggregation that lists the nodes, and ``max_iterations``
    bounds the rounds after it.

    The jump reads ``h`` at the label a node had BEFORE the hook, so the
    hook's own window hands the value back: a round executes three
    exchanges — the neighbour-min re-key from dst to src, the hook
    keyed on the parent id, and the re-key back to the node id, which
    leaves the label table hash-partitioned on ``id``. Edges are
    materialized ONCE, both directions, hash-partitioned on ``dst``
    (min-aggregation is multiplicity-insensitive, so no ``.distinct()``),
    so the edges⨝labels lookup and the labels⨝neighbour-min join plan
    without exchanges. The round ends in ONE partitioning-preserving
    checkpoint job, which also carries the changed-label count as an
    ``Observation`` metric.

    The loop runs inside a shuffle-partition scope sized from the
    observed pair count (max(8, rows/64k), session count as ceiling),
    so the AQE-less checkpoint stages do not launch session-count task
    waves for ~500-row label tables; capping the CONF keeps edges,
    labels and the per-round aggregations co-partitioned at one count.

    Raises RuntimeError if not converged within max_iterations.
    """
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
        checkpoint_partitioned,
    )

    # Materialize the pair list ONCE with its row count harvested from
    # the same job: the count sizes the loop's shuffle-partition scope,
    # and the union branches read materialized rows instead of each
    # re-executing the candidate generator.
    pairs_m, n_pairs = checkpoint_counted(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    )
    with loop_shuffle_scope(pairs.sparkSession, 2 * n_pairs):
        edges = checkpoint_partitioned(
            pairs_m.union(
                pairs_m.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ),
            "dst",
        )
        # From labels = ids, a whole round reduces to the neighbour-min
        # (hook and jump change nothing), so the first round is the
        # aggregation that lists the nodes. It hash-partitions on id
        # (AQE is off inside the partitioning-preserving checkpoint);
        # id stays a bare attribute above it, or the captured
        # partitioning drops to Unknown and every round re-exchanges.
        labels = checkpoint_keeping_partitioning(
            edges.select(F.col("src").alias("id"), "dst")
            .groupBy("id")
            .agg(F.min("dst").alias("nbr_min"))
            .select("id", F.least("id", "nbr_min").alias("component"))
        )
        for _ in range(max_iterations):
            nbr_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            step = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
                "id",
                F.col("component").alias("old"),
                F.least("component", "nbr_min").alias("m"),
            )
            # hook: each node's row is grouped under its own id and, as a
            # child, under its label; every group takes its smallest m
            key = F.explode(F.array_distinct(F.array("id", "old")))
            hooked = step.select("id", "old", "m", key.alias("key")).select(
                "id", "old", F.min("m").over(Window.partitionBy("key")).alias("h")
            )
            # jump: a node takes the smaller of its own hooked value and
            # its label's
            jumped = (
                hooked.groupBy("id")
                .agg(F.min("h").alias("component"), F.min("old").alias("old"))
                .select(
                    "id",
                    "component",
                    (F.col("component") < F.col("old")).alias("changed"),
                )
            )
            obs = Observation()
            updated = checkpoint_keeping_partitioning(
                jumped.observe(
                    obs, F.sum(F.col("changed").cast("long")).alias("n_changed")
                )
            )
            # harvested from the checkpoint's own job; None ⇔ zero rows.
            # If the engine stops delivering CollectMetrics through the
            # checkpoint job, degrade to a filter+count on the
            # materialized table instead of hanging.
            row = observed_row(obs)
            n_changed = (
                row["n_changed"]
                if row is not None
                else updated.filter(F.col("changed")).limit(1).count()
            )
            labels = updated.drop("changed")
            if not n_changed:
                return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def near_duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH candidate pairs
    confirmed by exact Jaccard → connected components → (id, component,
    is_representative) where the representative is the min id per
    cluster, i.e. the node whose id IS its component (the components
    contract). Singletons (no near-dup) are their own representative.
    The pair graph is the exact-Jaccard graph — deterministic and
    oracle-checkable."""
    pairs = minhash_near_duplicates_confirmed(
        df, id_col, text_col, jaccard_threshold=jaccard_threshold, **minhash_kwargs
    )
    comp = connected_components(pairs)
    ids = df.select(F.col(id_col).alias("id"))
    labeled = ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return labeled.withColumn(
        "is_representative", F.col("id") == F.col("component")
    )


def embedding_near_duplicates(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_bucket_size: int | None = 100_000,
    observation: Observation | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH.

    Sign-of-dot-product against the literal plane matrix ``planes``
    (similarity.fixed_hyperplanes — engine-independent, so an oracle can
    reproduce the buckets) → bucket int → candidate pairs within a
    bucket → exact cosine filter. Identical vectors always share a
    bucket, so recall for exact/near-exact duplicates is structural,
    not probabilistic.
    """
    from archive_to_parquet_spark.operators.similarity import (
        hyperplane_bucket_literal,
    )

    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm_col(vec_col).alias("norm"),
        hyperplane_bucket_literal(vec_col, planes).alias("bucket"),
    )
    return bucket_pairs(
        bucketed,
        ["bucket"],
        cosine_from_norms("a.v", "b.v", "a.norm", "b.norm").alias("cosine"),
        max_bucket_size=max_bucket_size,
        observation=observation,
    ).filter(F.col("cosine") >= threshold)


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Train/benchmark decontamination: flag every training document
    sharing ≥ ``min_overlap`` distinct word n-grams with the benchmark
    corpus (the GPT-3-style 13-gram containment check; pick smaller n
    for short documents).

    Plan shape for 100 TB: the benchmark gram set is tiny (benchmarks
    are MBs) → distinct it and BROADCAST it; the training side streams
    once through explode → broadcast hash join (no shuffle of corpus
    grams) → per-doc count, shuffling only the matched (doc, gram)
    survivors on doc_id. Every training doc is returned with its
    overlap count (left join; zero = clean).
    """
    grams = lambda df: df.select(  # noqa: E731 - tiny local helper
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams_col(text_col, shingle_n))).alias(
            "gram"
        ),
    )
    bench_grams = grams(bench_df).select("gram").distinct()
    # round 11 (guide §2.5): the training side's explode → broadcast-
    # probe → partial-agg chain is the operator's only corpus-sized
    # compute; a single-split scan pins it to one core (measured 0.9 s
    # single-task stage at sf0.1). spread_small_scan repartitions on id
    # only when the scan is narrower than the cluster — and the
    # groupBy(id) downstream reuses the partitioning.
    overlap = (
        grams(spread_small_scan(train_df, id_col))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap_grams"))
    )
    return _per_doc(
        train_df.select(F.col(id_col).alias("id")),
        id_col,
        overlap,
        {"n_overlap_grams": F.lit(0)},
    ).withColumn(
        "contaminated", (F.col("n_overlap_grams") >= min_overlap).cast("int")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "centroid",
    threshold: float = 0.99,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-cluster-scoped semantic
    deduplication. Every vector is assigned to its nearest centroid
    (the coarse quantizer — k-means in the paper; any EXPLICIT centroid
    table here, which keeps the operator deterministic and
    SQL-oracle-able); within each cluster, exact pairwise cosine is
    computed and a vector is DROPPED when a lower-id vector in the same
    cluster has cosine ≥ threshold — keep-first semantics, no
    transitive chaining.

    Returns (id_col, bucket, dropped:int) for every corpus row.

    Plan: one broadcast of the centroid table against the corpus with a
    map-side-combinable ``min(struct(dist, cid))`` argmin (no window);
    the pairwise stage self-joins ONLY within a bucket — cost is
    Σ cluster_size², the SemDeDup design point (cluster count sets the
    quadratic budget), never corpus². Distances and cosines are rounded
    before comparison so float order can't flip a decision across
    engines. At 100 TB: persist the assignment bucketBy(bucket), and
    cap degenerate clusters with cap_hot_buckets before the self-join.
    """
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
    )

    # round 11 (guide §2.5): the corpus parquet arrives as 1-2 splits at
    # bench scale, pinning the nearest-centroid distance scan (the
    # operator's dominant compute) to as many cores; spread_small_scan
    # repartitions on id only when the scan is narrower than the
    # cluster — a no-op on a wide 100-TB scan.
    corpus = spread_small_scan(corpus, id_col)

    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id).alias("cid"),
            F.col(centroid_vec).alias("cent_v"),
        )
    )
    dist = F.round(F.sqrt(d2_col("v", "cent_v", dim)), round_to)
    # round 11 (guide §2.4/§5): the assignment feeds THREE consumers
    # (both sides of the in-bucket pairwise self-join and the final
    # keep/drop join) — un-materialized, the broadcast-cross-join argmin
    # (the operator's dominant compute: rows × centroids × dim) executed
    # three times per run (measured: two ~4.8 s twin stages in the r11
    # profile). Materialize it once; the groupBy already hash-partitions
    # on id and the partitioning-keeping checkpoint preserves that for
    # the final id-keyed join.
    assigned = checkpoint_keeping_partitioning(
        nearest(
            corpus.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                l2_norm_col(vec_col).alias("n"),
            ),
            ["id"],
            cent,
            dist,
            "cid",
            carry=("v", "n"),
        ).select("id", "v", "n", F.col("cid").alias("bucket"))
    )
    cos = F.round(cosine_from_norms("a.v", "b.v", "a.n", "b.n"), round_to)
    drops = (
        bucket_pairs(assigned, ["bucket"], cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return assigned.join(drops, "id", "left").select(
        F.col("id").alias(id_col),
        "bucket",
        F.coalesce("dropped", F.lit(0)).alias("dropped"),
    )


# -- suffix-sort maximal repeats (suffix array → adjacent LCP) ---------------

_SFX_LEN = 60  # suffixes truncated to this many chars before sorting
_SFX_MIN = 25  # minimal repeat length reported (= the group-key prefix)
_SFX_SCAN_CAP = 10_000  # chars of normalized text scanned per document
# (both engines cap the text identically, so the oracle can enumerate
# positions from a CONSTANT generate_series — older DuckDB builds reject
# correlated/subquery bounds — without any data-dependent divergence)

# Shared DuckDB fragments of the suffix universe — the oracle-side
# twin of ``_suffix_rows``, single-sourced so the three suffix entries
# (dedup_suffix_lcp, dedup_suffix_lcp_bucketed,
# stream_suffix_incremental) cannot silently drift apart on the
# normalization, the scan cap, or the word-start rule.
_SFX_SQL_PRELUDE = f"""norm AS (
  SELECT doc_id,
         substr(trim(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g'))),
                1, {_SFX_SCAN_CAP}) AS norm
  FROM documents
),
series AS (
  SELECT g.pos AS pos FROM generate_series(1, {_SFX_SCAN_CAP}) AS g(pos)
)"""
# word-start positions whose truncated suffix clears the threshold
_SFX_SQL_WHERE = f"""g.pos <= length(norm)
    AND substr(norm, g.pos, 1) <> ' '
    AND (g.pos = 1 OR substr(norm, g.pos - 1, 1) = ' ')
    AND length(substr(norm, g.pos, {_SFX_LEN})) >= {_SFX_MIN}"""


def _suffix_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, suffix, pfx) word-start suffix rows over the
    ASCII-normalized, scan-capped text — the shared builder of the
    suffix-sort catalog entries and the streaming substring index
    (``streaming/suffix_index.py``): batch, bucketed and streaming
    paths must agree on the suffix universe or the index misses
    exactly the rows the batch probes."""
    norm = F.substring(
        F.trim(F.lower(F.regexp_replace("text", "[^A-Za-z0-9]+", " "))),
        1,
        _SFX_SCAN_CAP,
    )
    starts = F.filter(
        F.sequence(F.lit(1), F.length("norm")),
        lambda p: (F.substr(F.col("norm"), p, F.lit(1)) != F.lit(" "))
        & (
            (p == F.lit(1))
            | (F.substr(F.col("norm"), p - 1, F.lit(1)) == F.lit(" "))
        ),
    )
    return (
        docs.select("doc_id", norm.alias("norm"))
        .select("doc_id", "norm", F.explode(starts).alias("pos"))
        .select(
            "doc_id",
            "pos",
            F.substr(F.col("norm"), F.col("pos"), F.lit(_SFX_LEN)).alias(
                "suffix"
            ),
        )
        .filter(F.length("suffix") >= _SFX_MIN)
        .withColumn("pfx", F.substring("suffix", 1, _SFX_MIN))
    )


# -- exact-span dedup: the first occurrence wins -----------------------------


def _first_occurrence(units: DataFrame, key: str) -> DataFrame:
    """``units`` (``id``, ``idx``, ``key``, ...) with a boolean
    ``repeat``: false only for the corpus-wide first occurrence of the
    unit's key, its minimum ``(id, idx)`` — the reference's
    first-hash-wins rule over spans (a key seen once is its own first
    occurrence).

    Plan: one map-side-combinable ``min(struct(id, idx))`` per key,
    then the join back on the same key. A first-occurrence row (key,
    first) is never wider than a unit (id, idx, key, ...), so whenever
    a side fits the broadcast threshold the planner builds the
    join-back from the first occurrences; the units stream through and
    keep their id partitioning, which the adaptive re-plan never trades
    for a per-document shuffle. The build side therefore does not
    depend on which map stage finishes first — as long as nothing is
    carried beside the min. Past the threshold it is a sort-merge join
    on the key, and AQE skew-join splits a corpus-hot key.
    """
    first = units.groupBy(key).agg(F.min(F.struct("id", "idx")).alias("_first"))
    return (
        units.join(first, key)
        .withColumn(
            "repeat",
            (F.col("id") != F.col("_first.id")) | (F.col("idx") != F.col("_first.idx")),
        )
        .drop("_first")
    )


def _per_doc(
    df: DataFrame, id_col: str, stats: DataFrame, zeros: dict[str, Column]
) -> DataFrame:
    """One row per ``df`` row: its ``id`` (renamed back to ``id_col``)
    and other columns, then each ``zeros`` column of ``stats`` (keyed
    on ``id``), which is its typed zero where ``stats`` has no row for
    the document — a document with no units still gets its row."""
    return df.join(stats, "id", "left").select(
        F.col("id").alias(id_col),
        *(c for c in df.columns if c != "id"),
        *(F.coalesce(c, zero).alias(c) for c, zero in zeros.items()),
    )


def dedup_chunk_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 6,
) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL (the rewrite step behind
    exact-substring train-set dedup, Lee et al. 2022, here at aligned
    fixed-width chunk granularity): split every document into
    consecutive non-overlapping ``chunk_words``-word chunks, keep only
    the globally FIRST occurrence (min (doc_id, position)) of every
    duplicated chunk, and reassemble each document from its surviving
    chunks in order.

    Returns (id_col, n_chunks, n_kept, text_dedup) — one row per input
    document (documents whose every chunk was dropped keep an empty
    string).

    Plan: per-row chunking (sequence/slice/array_join — no shuffle) →
    posexplode → ``_first_occurrence`` on the chunk → keep first
    occurrences → groupBy(id) reassembling with sort_array over
    collected (idx, chunk) structs. Shuffle keys: chunk, then id —
    linear in corpus chunk volume, no pairwise doc work.
    """
    # round 11 (guide §2.5): the documents parquet arrives as one split
    # at bench scale, pinning BOTH chunk-explode map stages (the agg
    # side and the join-back side re-execute the explode) to one core —
    # measured as two serial ~1 s single-task stages at sf0.1.
    # spread_small_scan repartitions on id only when the scan is
    # narrower than the cluster; a wide 100-TB scan is untouched.
    df = spread_small_scan(df, id_col)
    words = words_col(text_col)
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    # guard the empty document: sequence(0, -1) would DESCEND ([0, -1]),
    # not return empty — emit no chunks instead (posexplode drops the
    # row; the final left join restores it with n_kept=0, text "")
    chunk_array = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, i * chunk_words + 1, chunk_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunked = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunk_array).alias("idx", "chunk"),
    )
    kept = _first_occurrence(chunked, "chunk").filter(~F.col("repeat"))
    rebuilt = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = df.select(F.col(id_col).alias("id"), n_chunks.alias("n_chunks"))
    return _per_doc(
        totals, id_col, rebuilt, {"n_kept": F.lit(0), "text_dedup": F.lit("")}
    )


def crossdoc_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document span repetition (the signal behind substring-level
    train-set dedup, Lee et al. 2022): for every document, how many of
    its distinct word n-grams also occur in ≥ ``min_df`` documents
    corpus-wide, and what fraction of its gram set that is.

    Plan: distinct grams per doc (explode) → global gram document
    frequency (count per gram — grams are pre-distinct per doc, so
    count = doc frequency; map-side partials apply) → join back and
    count shared grams per doc. Shuffles key on gram then doc id; there
    is no pairwise doc×doc work anywhere, so cost is linear in corpus
    gram volume. Hot grams ARE the shared ones — at extreme scale cap
    the join fan-in with cap_hot_buckets on gram before the join-back.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams_col(text_col, shingle_n))).alias(
            "gram"
        ),
    )
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    shared = (
        grams.join(dfreq.filter(F.col("df") >= min_df), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared_grams"))
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(word_ngrams_col(text_col, shingle_n))).alias(
            "n_grams"
        ),
    )
    return _per_doc(
        totals, id_col, shared, {"n_shared_grams": F.lit(0)}
    ).withColumn(
        "frac_shared_grams",
        F.round(
            F.col("n_shared_grams").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)),
            6,
        ),
    )


def remove_duplicated_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 8,
) -> DataFrame:
    """UNALIGNED exact-substring dedup (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): a word
    window of length ``window_words`` starting at ANY position that
    also occurs anywhere else in the corpus (any doc, any offset —
    including elsewhere in the same doc) is duplicated; every
    occurrence except the globally first (min (doc_id, position))
    has its covered word range marked, overlapping/adjacent marks are
    merged into maximal spans, and each document is reassembled from
    the words outside its spans. This is the per-position counterpart
    of ``dedup_chunk_spans`` (which only sees chunk-ALIGNED repeats):
    a copied passage is caught at every offset, so the merged span
    covers the full repeated region, approximating the suffix-array
    maximal-match spans of the paper with corpus-linear Spark ops.

    Returns (id_col, n_words, removed_words, n_spans, text_clean) —
    one row per input document.

    Plan: per-row window generation (sequence/slice/array_join, no
    shuffle; ~|words| windows per doc) → ``_first_occurrence`` on the
    window string tags the repeats → keyed on id: running-max-end
    window functions merge repeat intervals into disjoint spans
    (classic interval union, per-doc sequential) → join spans to the
    doc row and rebuild with a single O(|words|) ``aggregate`` that
    concatenates the slices BETWEEN spans — no per-word membership
    probes, no doc×doc work. At extreme scale swap the window string
    for ``xxhash64`` pairs to shrink the shuffle payload.
    """
    # the window build is O(|words|·k) string work per doc — spread a
    # narrow scan across slots before it (id partitioning is reused by
    # the span merge and final join downstream)
    df = spread_small_scan(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    words = words_col(text_col)
    k = window_words
    n_words = F.size(words)
    # docs shorter than one window emit no windows (sequence(0, neg)
    # would DESCEND, not return empty) and pass through untouched
    win_array = F.when(
        n_words >= k,
        F.transform(
            F.sequence(F.lit(0), n_words - k),
            lambda i: F.array_join(F.slice(words, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(win_array).alias("idx", "win"),
    )
    losers = (
        _first_occurrence(wins, "win")
        .filter(F.col("repeat"))
        .select("id", F.col("idx").alias("pos"), (F.col("idx") + k).alias("end"))
    )
    # interval union: a loser starts a NEW span iff it begins past the
    # running max end of every earlier loser in the doc; the running
    # count of new-span flags is the span id
    ow = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max("end").over(
        ow.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        losers.withColumn(
            "ns",
            F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn("gid", F.sum("ns").over(ow))
        .groupBy("id", "gid")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy("id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).cast("int").alias("removed_words"),
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
        )
    )
    joined = _per_doc(
        df.select(F.col(id_col).alias("id"), words.alias("words")),
        id_col,
        spans,
        {
            "removed_words": F.lit(0),
            "n_spans": F.lit(0),
            "spans": F.array().cast("array<struct<s:int,e:int>>"),
        },
    )
    # rebuild: fold over the disjoint sorted spans, emitting the gap
    # before each span, then the tail after the last — O(|words|)
    kept = F.aggregate(
        F.col("spans"),
        F.struct(
            F.lit(0).alias("pe"), F.array().cast("array<string>").alias("acc")
        ),
        lambda acc, sp: F.struct(
            sp["e"].alias("pe"),
            F.concat(
                acc["acc"],
                F.slice(F.col("words"), acc["pe"] + 1, sp["s"] - acc["pe"]),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.slice(
                F.col("words"), acc["pe"] + 1, F.size("words") - acc["pe"]
            ),
        ),
    )
    return joined.select(
        id_col,
        F.size("words").cast("int").alias("n_words"),
        "removed_words",
        "n_spans",
        F.array_join(kept, " ").alias("text_clean"),
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    boundary_hex_lt: str = "04",
) -> DataFrame:
    """Content-defined chunking (CDC) dedup statistics — the
    storage-dedup classic (LBFS/Venti/backup systems): chunk
    boundaries are declared by the CONTENT (a position i ends a chunk
    when the hash of the ``window`` chars ending at i falls under a
    threshold), so an insertion near the start of a document shifts
    only the chunk it lands in — every later chunk re-aligns and
    deduplicates, where fixed-width chunking would shift-corrupt all
    of them. Chunks are deduplicated corpus-wide by content hash;
    per doc, reports how many of its chunks (and how many chars) are
    duplicates of an earlier (min (doc_id, idx)) occurrence.

    The boundary predicate is the engine-portable form: the first two
    md5 hex chars of the window compared against ``boundary_hex_lt``
    as STRINGS (``'04'`` → P=4/256, expected chunk ≈ 64 chars), the
    same hex-prefix-threshold trick the sampling operators use — no
    integer conversion, byte-identical in any engine. A production
    100 TB deployment would swap the per-position md5 for a rolling
    Gear/Rabin hash in an Arrow kernel (same contract, O(1) per
    position instead of O(window)); the chunking itself is per-row
    and embarrassingly parallel either way.

    Returns (id_col, n_chunks, dup_chunks, dup_chars) — one row per
    input document (empty docs: 0 chunks).

    Plan: per-row boundary scan + chunk slicing (filter/transform/
    zip_with over a char sequence — no shuffle, no Python) →
    posexplode to (id, idx, clen, md5) → ``_chunk_dup_stats``
    (``_first_occurrence`` on the md5, then a per-doc agg keyed on
    id). Identical scale shape to ``remove_duplicated_substrings``.
    """
    # one md5 per char position is the hash-heaviest per-row compute in
    # the dedup family — spread a narrow single-split scan across slots
    # before it (the per-doc agg downstream reuses the id partitioning).
    # A document without an id gets no stats (the per-doc join cannot
    # match it) and, as in the oracle's null-last order, owns no
    # chunk's first occurrence, so its chunks are dropped before the
    # spread. Written out, not left to the planner, which infers it for
    # the join-back side only: both unit consumers then share one
    # exchange.
    spread = spread_small_scan(
        df.select(F.col(id_col), F.col(text_col)).filter(
            F.col(id_col).isNotNull()
        ),
        id_col,
    )
    w = window
    s = F.col(text_col)
    n = F.length(s)
    bounds = F.when(
        n > w,
        F.filter(
            F.sequence(F.lit(w), n - 1),
            lambda i: F.substring(
                F.md5(s.substr(i - (w - 1), F.lit(w)).cast("binary")), 1, 2
            )
            < F.lit(boundary_hex_lt),
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(
        F.array(F.lit(1)), F.transform(bounds, lambda b: b + 1)
    )
    ends = F.concat(bounds, F.array(n))
    chunks = F.when(
        n > 0,
        F.zip_with(starts, ends, lambda st, en: s.substr(st, en - st + 1)),
    ).otherwise(F.array().cast("array<string>"))
    chunked = spread.select(
        F.col(id_col).alias("id"), F.posexplode(chunks).alias("idx", "chunk")
    ).select(
        "id",
        "idx",
        F.length("chunk").alias("clen"),
        F.md5(F.col("chunk").cast("binary")).alias("h"),
    )
    return _chunk_dup_stats(df, id_col, chunked, "dup_chars")


def _chunk_dup_stats(
    df: DataFrame, id_col: str, chunked: DataFrame, dup_len: str
) -> DataFrame:
    """The CDC tail shared by both chunkers: ``chunked`` (id, idx, clen,
    h) → per ``df`` document (id_col, n_chunks, dup_chunks, ``dup_len``),
    a chunk being a duplicate when its content hash ``h`` occurred
    first elsewhere."""
    repeat = F.col("repeat")
    per_doc = (
        _first_occurrence(chunked, "h")
        .groupBy("id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(repeat.cast("int")).cast("int").alias("dup_chunks"),
            F.sum(F.when(repeat, F.col("clen")).otherwise(0))
            .cast("int")
            .alias(dup_len),
        )
    )
    return _per_doc(
        df.select(F.col(id_col).alias("id")),
        id_col,
        per_doc,
        dict.fromkeys(("n_chunks", "dup_chunks", dup_len), F.lit(0)),
    )


def _gear_table() -> list[int]:
    """256 pseudo-random 64-bit gear constants, derived from md5 so the
    table is a public, engine-independent construction (no baked-in
    magic numbers to keep in sync)."""
    import hashlib

    return [
        int.from_bytes(hashlib.md5(bytes([v])).digest()[:8], "big")
        for v in range(256)
    ]


def gear_hash_boundaries(data: bytes, mask_bits: int = 6) -> list[int]:
    """Pure-Python reference Gear-CDC boundary scan: the classic
    rolling recurrence ``h = (h << 1) + GEAR[byte] (mod 2^64)``, a cut
    AFTER byte position p (1-based, p < len) whenever
    ``h & (2^mask_bits - 1) == 0``. The shift decay gives the hash an
    implicit 64-byte window, so boundaries are a pure function of the
    local content — the insertion-robustness property. O(n) scalar
    loop; the Arrow kernel below is the vectorized twin (tested equal
    byte-for-byte)."""
    gear = _gear_table()
    m64 = (1 << 64) - 1
    mask = (1 << mask_bits) - 1
    h, cuts = 0, []
    for p, b in enumerate(data, start=1):
        h = ((h << 1) + gear[b]) & m64
        if p < len(data) and (h & mask) == 0:
            cuts.append(p)
    return cuts


GEAR_CDC_DDL = "id long, idx int, clen int, h string"


def gear_cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    data_col: str = "data",
    mask_bits: int = 6,
) -> DataFrame:
    """Content-defined chunking over BINARY payloads with a rolling
    Gear hash — the throughput tier promised by ``cdc_chunk_stats``'s
    docstring: O(1) per byte instead of an md5 per position, and the
    per-row scan runs as a VECTORIZED Arrow kernel (the 64-shift
    windowed form of the gear recurrence — h_i = Σ_{s<64}
    GEAR[b_{i-s}]·2^s mod 2^64 — is 64 numpy adds over the whole
    buffer, no Python byte loop; proven equal to the scalar recurrence
    in tests). Boundary rule: cut after position p when
    ``h_p & (2^mask_bits − 1) == 0`` (expected chunk 2^mask_bits
    bytes). Chunks dedup corpus-wide by content md5; per doc, reports
    chunk count, duplicate chunks, and duplicate bytes vs the earliest
    (min (id, idx)) occurrence.

    Plan: one ``mapInPandas`` stage emits (id, idx, clen, chunk-md5) —
    a bounded ~36-byte row per chunk, so the Python boundary never
    ships payload bytes anywhere — then the md5-window variant's JVM
    tail, ``_chunk_dup_stats``. Upstream should size-repartition
    archives for decode-cost balance exactly as the media kernels do.
    """
    import numpy as np

    gear_np = np.array(_gear_table(), dtype=np.uint64)
    mask = np.uint64((1 << mask_bits) - 1)

    cols = df.select(
        F.col(id_col).alias("id"), F.col(data_col).alias("data")
    )

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            out_id, out_idx, out_len, out_h = [], [], [], []
            for rid, data in zip(pdf["id"], pdf["data"]):
                data = bytes(data) if data is not None else b""
                n = len(data)
                if n == 0:
                    continue
                g = gear_np[np.frombuffer(data, dtype=np.uint8)]
                h = np.zeros(n, dtype=np.uint64)
                for s in range(min(64, n)):
                    h[s:] += g[: n - s] << np.uint64(s)
                cuts = (np.nonzero((h[:-1] & mask) == 0)[0] + 1).tolist()
                starts = [0] + cuts
                ends = cuts + [n]
                for idx, (st, en) in enumerate(zip(starts, ends)):
                    out_id.append(rid)
                    out_idx.append(idx)
                    out_len.append(en - st)
                    out_h.append(hashlib.md5(data[st:en]).hexdigest())
            yield pd.DataFrame(
                {
                    "id": pd.array(out_id, dtype="int64"),
                    "idx": pd.array(out_idx, dtype="int32"),
                    "clen": pd.array(out_len, dtype="int32"),
                    "h": out_h,
                }
            )

    chunked = cols.mapInPandas(batches, schema=GEAR_CDC_DDL)
    return _chunk_dup_stats(df, id_col, chunked, "dup_bytes")


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_frequency: int = 3,
) -> DataFrame:
    """C4-style boilerplate removal at LINE granularity: a line occurring
    in ≥ ``min_doc_frequency`` distinct documents (nav menus, cookie
    banners, license headers) is removed from every document.

    Returns (id_col, n_lines, n_kept, text_clean), one row per input
    document; blank lines are preserved verbatim (they don't count
    toward document frequency and are never removed).

    Plan: posexplode lines (no shuffle) → distinct (line, doc) pairs →
    count per line = document frequency (map-side partial) → anti-join
    back on line (same key as the agg shuffle; AQE splits a
    pathological hot line) → reassemble per doc with sort_array over
    (idx, line) structs. Cost is linear in corpus line volume — no
    doc×doc work.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    )
    hot = (
        lines.filter(F.length(F.trim(F.col("line"))) > 0)
        .groupBy("line")
        .agg(F.count_distinct("id").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_frequency)
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    return _per_doc(
        totals, id_col, rebuilt, {"n_kept": F.lit(0), "text_clean": F.lit("")}
    )


def hamming_near_duplicates(
    df: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    max_hamming: int = 3,
    max_bucket_size: int | None = 100_000,
    observation: Observation | None = None,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits over ANY 64-bit
    signature column (simhash, perceptual image hash, audio
    fingerprint). Null signatures are dropped. Returns (id_a, id_b,
    hamming:int).

    Pigeonhole candidates: the signature is split into T equal chunks,
    T the smallest divisor of 64 greater than ``max_hamming``. A pair
    within ``max_hamming`` < T bits differs in fewer chunks than there
    are, so it collides on at least one — candidate generation is
    EXACT, never a recall loss. Bucket-join per (table, chunk), exact
    Hamming via bit_count(xor).
    """
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 64), got {max_hamming}")
    num_tables = next(t for t in (1, 2, 4, 8, 16, 32, 64) if t > max_hamming)
    chunk_bits = 64 // num_tables
    mask = (1 << chunk_bits) - 1 if chunk_bits < 64 else -1  # signed long
    chunked = df.filter(F.col(sig_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("s"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.shiftrightunsigned(F.col(sig_col), t * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("b"),
    ).select("id", "s", "b.tbl", "b.chunk")
    hamming = F.bit_count(F.col("a.s").bitwiseXOR(F.col("b.s")))
    return (
        bucket_pairs(
            chunked,
            ["tbl", "chunk"],
            hamming.cast("int").alias("hamming"),
            max_bucket_size=max_bucket_size,
            observation=observation,
        )
        # filter BEFORE the cross-chunk dedup (r11, guide §2.3):
        # hamming is a function of the two signatures, so every
        # duplicate of a pair carries the same value — filter-then-
        # dedup ≡ dedup-then-filter, but only pairs inside the
        # threshold cross the dropDuplicates exchange instead of every
        # chunk collision. Catalyst cannot hoist this itself (a filter
        # on a non-grouping column below a first-row aggregate is not
        # semantics-preserving in general).
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistable LSH state for INCREMENTAL near-dup: one row per
    (id, band_idx, band_hash) plus the full signature. Write it
    ``bucketBy(band_hash)``-style (or hash-prefix partitioned) once;
    every future ingest batch probes it without touching corpus text.
    """
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n).withColumn(
        "sig", F.array(*mh_cols)
    )
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.col(mh_cols[b * rows_per_band + r])
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_idx", "band.band_hash")


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: match an ingest batch against an existing
    corpus WITHOUT re-reading corpus text.

    Returns ``(pairs, new_index)``: ``pairs`` = (new_id, index_id,
    est_jaccard ≥ threshold) from band collisions between the batch and
    the index, Jaccard estimated from the stored signatures (corpus
    text is never touched — only its index rows); ``new_index`` = the
    batch's own band rows, for the caller to append (plus intra-batch
    dedup via minhash_near_duplicates_confirmed if desired).

    Scale shape: the batch index is small (one ingest slice) → its band
    rows broadcast against the persisted index's band buckets; with the
    index stored bucketed on band_hash the probe is a local join per
    bucket, shuffle-free. This is the 100 TB continuous-dedup loop:
    probe + append, never recompute.
    """
    batch_index = minhash_band_index(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    a = batch_index.alias("a")
    b = index.alias("b")
    est = (
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    pairs = (
        F.broadcast(a)
        .join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.id").alias("new_id"),
            F.col("b.id").alias("index_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["new_id", "index_id"])
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("new_id", "index_id", "est_jaccard")
    )
    return pairs, batch_index


# -- Bloom-filter membership tier ----------------------------------------------


def bloom_filter_bits(
    df: DataFrame,
    key_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` as a single-column
    DataFrame of SET bit positions (``bit`` long) — the compact
    "possibly seen?" tier in front of the exact/minhash index
    (``dedup_against_index``).

    Positions come from non-overlapping 8-hex-char md5 slices reduced
    mod ``num_bits`` — engine-independent (a DuckDB oracle rebuilds the
    filter bit-for-bit) and stable across runs, so the bit set can be
    persisted as parquet and unioned with later batches (bitwise OR ==
    UNION DISTINCT of positions). At most ``num_bits`` rows regardless
    of corpus size; build is one map-side-combinable distinct.

    Size ``num_bits`` ≈ 14×(expected keys) for ~0.1% FP at k=3.
    """
    if num_hashes > 4:
        raise ValueError(
            f"num_hashes={num_hashes}: md5 yields only 4 non-overlapping "
            f"8-hex slices"
        )
    return (
        df.select(
            F.explode(
                F.array(*_bloom_bit_positions(F.col(key_col), num_bits, num_hashes))
            ).alias("bit")
        )
        .distinct()
    )


def _bloom_bit_positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    h = F.md5(col.cast("binary"))
    return [
        (
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % num_bits
        ).alias(f"pos{i}")
        for i in range(num_hashes)
    ]


def bloom_probe(
    df: DataFrame,
    bits: DataFrame,
    id_col: str,
    key_col: str = "text",
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Probe a ``bloom_filter_bits`` result: emits (id_col, bloom_hit)
    where ``bloom_hit`` is true iff ALL k bit positions of the probe
    key are set. No false negatives; false positives at the filter's
    design rate — route hits to the exact tier, drop misses without
    ever touching the indexed corpus.

    The bit set joins as a BROADCAST (≤ num_bits rows); the probe side
    streams through map-side. ``num_bits``/``num_hashes`` must match
    the build call."""
    probe_bits = df.select(
        F.col(id_col),
        F.explode(
            F.array(*_bloom_bit_positions(F.col(key_col), num_bits, num_hashes))
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_set"))
    )
    return df.select(id_col).join(hits, id_col, "left").select(
        id_col,
        (F.coalesce(F.col("n_set"), F.lit(0)) == num_hashes).alias("bloom_hit"),
    )
