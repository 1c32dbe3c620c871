"""Similarity search over embedding columns (approximate nearest
neighbor) and the embedding clustering operators.

Every operator here is the near-dup pipeline of ``dedup.py`` with a
top-k or clustering tail, built from the stages in
``operators/candidates.py``:

    candidates (scan / bucket / inverted list / PQ codes)
              → exact re-rank → ``top_k`` per query

Each operator keeps its own candidate step; the re-rank has one home
per distance: ``cosine_top_k`` (rounded cosine, ties to the smaller
id) for the cosine operators here and the catalog's JL, bucketed-LSH
and hybrid entries, ``_pq_rerank`` (ADC cut to ``k_candidates``, then
exact integerized L2) for the two PQ operators. LSH buckets come from
one plane generator, the md5-literal ``fixed_hyperplanes``.

- ``brute_force_top_k`` / ``hard_negatives``: every corpus row is a
  candidate — broadcast the (small) query set against one corpus scan.
  The correctness baseline.
- ``lsh_top_k``: random-hyperplane buckets with multi-probe.
- ``ivf_top_k_fixed_centroids``: ``nearest`` centroid assigns the
  inverted lists; queries ``top_k`` their ``n_probe`` lists.
- ``pq_top_k_fixed_codebook`` / ``ivf_pq_top_k_fixed``: ``nearest`` code
  per subspace (PQ encode), then ``_pq_rerank``.
- ``kmeans_fixed_rounds``: ``nearest`` centroid, then the mean update.
- ``cosine_dbscan`` / ``lsh_dbscan``: ε-pairs from ``bucket_pairs``
  (all pairs, or per LSH band), then ``dbscan_from_pairs``.

Everything is pure column expressions (distance and dot columns from
``functions/vectors.py``) — no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.vectors import (
    cosine_from_norms,
    d2_col,
    d2e6_col,
    l2_norm_col,
)
from archive_to_parquet_spark.operators.candidates import (
    bucket_pairs,
    checkpoint_counted,
    loop_shuffle_scope,
    nearest,
    top_k,
)


def fixed_hyperplanes(
    num_planes: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic hyperplane matrix derived from md5 — identical in
    any engine/language, so an external oracle (DuckDB) can reproduce
    the exact same buckets. component[p][d] = first 60 bits of
    md5("hp{seed}_{p}_{d}") mapped to [-1, 1). The planes are embedded
    in the plan as LITERALS (constant-folded; nothing hashed per row).
    The one plane generator of every LSH operator."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp{seed}_{p}_{d}".encode()).hexdigest()[:15], 16)
            / float(1 << 59)
            - 1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def long_array_literal(values: list[int]):
    """Literal ``array<bigint>`` column built with ONE py4j round-trip
    (``F.array(*[F.lit(x) ...])`` costs a py4j call per element)."""
    return F.expr("array(" + ",".join(f"{int(x)}L" for x in values) + ")")


def hyperplane_bucket_literal(vec_col: str, planes: list[list[float]]):
    """LSH bucket id from a literal plane matrix (see fixed_hyperplanes):
    bit p = sign(dot(v, planes[p])). Pure column expression — the plane
    arrays are plan literals, the dot is a zip_with/aggregate fold.

    Built as ONE ``F.expr`` SQL string: the Column-DSL form costs ~30 ms
    of py4j round-trips PER PLANE constructing lambda/when nodes, which
    for a 4-band × 8-plane entry was ~1 s of pure driver wall per
    execution (round-11 profile of cluster_dbscan_lsh). ``repr`` double
    literals are shortest-round-trip, so the parsed plane values are
    bit-identical to the Python values (verified incl. exponent
    notation and subnormals)."""
    ident = "`" + vec_col.replace("`", "``") + "`"
    terms = ["0"]
    for p, plane in enumerate(planes):
        arr = "array(" + ",".join(repr(float(x)) + "D" for x in plane) + ")"
        dot = (
            f"aggregate(zip_with({ident}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS INT)")


def cosine_top_k(
    pairs: DataFrame,
    id_col: str,
    k: int,
    rank: str = "rank",
    round_to: int | None = None,
) -> DataFrame:
    """The exact re-rank every ANN operator ends with: ``pairs`` are
    candidate (``query_id``, ``id_col``) rows carrying both vectors and
    their norms (``cv``, ``cn``, ``qv``, ``qn``); per query, the ``k``
    best by cosine, ties broken by ``id_col``. ``round_to`` rounds the
    cosine BEFORE ranking so float noise can't flip cross-engine
    orderings (the oracle-checked catalog entries). Returns
    (query_id, ``id_col``, cosine, ``rank``)."""
    score = cosine_from_norms("cv", "qv", "cn", "qn")
    if round_to is not None:
        score = F.round(score, round_to)
    return top_k(
        pairs.select("query_id", id_col, score.alias("cosine")),
        "query_id",
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k,
        rank,
    ).select("query_id", id_col, "cosine", rank)


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × scan corpus → window top-k.

    Deterministic output: ties broken by corpus id; ``round_to`` as in
    :func:`cosine_top_k`. Returns (query_id, vec_id, cosine, rank).
    """
    # norms computed once per ROW below the join (the join node blocks
    # projection collapse), so each of the |corpus|×|queries| pairs pays
    # only the dot product
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm_col(query_vec).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("cv"),
        l2_norm_col(corpus_vec).alias("cn"),
    )
    return cosine_top_k(c.join(F.broadcast(q)), "vec_id", k, round_to=round_to)


def lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    multi_probe_bits: int = 1,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via hyperplane LSH with multi-probe.

    ``planes`` is the literal plane matrix (``fixed_hyperplanes``) —
    engine-independent, so the whole query is reproducible by an
    external SQL oracle. Queries probe their own bucket plus every
    bucket within ``multi_probe_bits`` bit flips (recall knob). Join is
    an equi-join on the int bucket id — at scale, bucket the corpus
    table by this column (``write.bucketBy``) and the probe join is
    shuffle-free on the corpus side.
    """
    num_planes = len(planes)
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("cv"),
        l2_norm_col(corpus_vec).alias("cn"),
        hyperplane_bucket_literal(corpus_vec, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm_col(query_vec).alias("qn"),
        hyperplane_bucket_literal(query_vec, planes).alias("bucket0"),
    )
    # multi-probe: home bucket + single-bit flips (and optionally 2-bit)
    probes = [F.col("bucket0")]
    if multi_probe_bits >= 1:
        probes += [
            F.col("bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(num_planes)
        ]
    if multi_probe_bits >= 2:
        probes += [
            F.col("bucket0").bitwiseXOR(F.lit((1 << b1) | (1 << b2)))
            for b1 in range(num_planes)
            for b2 in range(b1 + 1, num_planes)
        ]
    q_probed = q.select(
        "query_id", "qv", "qn", F.explode(F.array(*probes)).alias("bucket")
    ).dropDuplicates(["query_id", "bucket"])
    return cosine_top_k(
        c.join(F.broadcast(q_probed), "bucket"), "vec_id", k, round_to=round_to
    )


def ivf_top_k_fixed_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroid_id: str = "cid",
    centroid_vec: str = "centroid",
    round_to: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF top-k with an EXPLICIT centroid table (any coarse quantizer:
    k-means output, a deterministic corpus sample, a product quantizer's
    codebook). Fully deterministic given the centroids, so a SQL oracle
    reproduces it.

    Plan shape: corpus × broadcast(centroids) → per-row argmin
    (:func:`nearest` — map-side combinable, no window shuffle) assigns
    each corpus vector its inverted list; queries rank the same
    broadcast centroid table to pick ``n_probe`` lists; probe join on
    the list id; exact cosine re-rank inside probed lists. At scale,
    persist the assignment once (bucketBy on ``bucket``) and amortize
    across query batches. Distances are rounded before ranking so float
    summation order can't flip a bucket choice across engines.
    """
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id).alias("cid"), F.col(centroid_vec).alias("cent_v")
        )
    )

    def _dist(vec_col: str):
        d = F.sqrt(d2_col(vec_col, "cent_v", dim))
        return F.round(d, round_to) if round_to is not None else d

    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).alias("cv"),
        l2_norm_col(corpus_vec).alias("cn"),
    )
    assigned = nearest(
        c, ["vec_id"], cent, _dist("cv"), "cid", carry=("cv", "cn")
    ).select("vec_id", "cv", "cn", F.col("cid").alias("bucket"))

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm_col(query_vec).alias("qn"),
    )
    q_probes = top_k(
        q.join(cent).select("query_id", "qv", "qn", "cid", _dist("qv").alias("d")),
        "query_id",
        [F.col("d").asc(), F.col("cid").asc()],
        n_probe,
        "pr",
    ).select("query_id", "qv", "qn", F.col("cid").alias("bucket"))
    return cosine_top_k(
        assigned.join(F.broadcast(q_probes), "bucket"),
        "vec_id",
        k,
        round_to=round_to,
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
    round_to: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: per query,
    the top-k most-similar corpus vectors with a DIFFERENT label (the
    near-misses a contrastive loss learns most from).

    Returns (query_id, neg_id, cosine, rank). Same distribution shape
    as brute_force_top_k — broadcast queries (queries are the small
    side: an epoch's anchor sample), one corpus scan, per-query window
    top-k — with the label-mismatch predicate applied at the join so
    the window never ranks in-class rows. At larger query counts swap
    the candidate stage for lsh_top_k/ivf_top_k_fixed_centroids and
    apply the same label filter on its candidates; the ranking
    contract is unchanged.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        F.col(query_label).alias("q_label"),
        l2_norm_col(query_vec).alias("qn"),
    )
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    # round 11 (guide §2.5): the corpus-side scoring scan (cosine ×
    # broadcast queries) is the operator's dominant compute; a
    # single-split scan pins it to one core (1.4 s single-task stage at
    # sf0.1). spread_small_scan is a no-op on a wide 100-TB scan.
    c = spread_small_scan(corpus, corpus_id).select(
        F.col(corpus_id).alias("neg_id"),
        F.col(corpus_vec).alias("cv"),
        F.col(corpus_label).alias("c_label"),
        l2_norm_col(corpus_vec).alias("cn"),
    )
    return cosine_top_k(
        c.join(F.broadcast(q), F.col("c_label") != F.col("q_label")),
        "neg_id",
        k,
        round_to=round_to,
    )


def _pq_sub_rows(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, m: int, sub_dim: int
) -> DataFrame:
    """Explode a dim-(m·sub_dim) vector column into its m subvectors:
    one row per (id, subspace s, sub) — the shared slicing convention
    every PQ oracle replays (1-based F.slice windows of sub_dim)."""
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(F.col(vec_col), s * F.lit(sub_dim) + 1, sub_dim),
    )
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(slices).alias("s", "sub")
    )


def _pq_rerank(
    adc: DataFrame,
    full: DataFrame,
    queries: DataFrame,
    exact_d2_e6: Column,
    k_candidates: int,
    k: int,
) -> DataFrame:
    """The PQ tail: ``adc`` rows (query_id, vec_id, qd2) — one per
    candidate code looked up in the query's distance table — sum to the
    approximate distance; each query keeps its ``k_candidates`` nearest
    (``crank``), then an EXACT re-rank joins ``full`` (vec_id, cv) and
    broadcast ``queries`` (query_id, qv) only for those candidates and
    keeps the ``k`` smallest ``exact_d2_e6``. Returns
    (query_id, rank, vec_id, d2_e6)."""
    scored = adc.groupBy("query_id", "vec_id").agg(
        F.sum("qd2").alias("approx_d2_e6")
    )
    cand = top_k(
        scored,
        "query_id",
        [F.col("approx_d2_e6").asc(), F.col("vec_id").asc()],
        k_candidates,
        "crank",
    ).select("query_id", "vec_id")
    return top_k(
        cand.join(full, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", exact_d2_e6.alias("d2_e6")),
        "query_id",
        [F.col("d2_e6").asc(), F.col("vec_id").asc()],
        k,
        "rank",
    ).select("query_id", "rank", "vec_id", "d2_e6")


def pq_top_k_fixed_codebook(
    corpus: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 10,
    k_candidates: int = 50,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Product-quantization ANN with an EXPLICIT per-subspace codebook —
    the memory-bound scale path of the ANN family (brute = exact, LSH /
    IVF = prune the corpus, PQ = compress it: each vector becomes m
    one-byte codes, so a 100 TB float corpus scans as ~1.5 TB of codes).

    ``codebook`` has one row per (s, j): subspace index, code id, and a
    ``code_vec`` of length ``sub_dim``. Encoding assigns each corpus
    vector, per subspace, its L2-nearest code (min(struct) argmin —
    map-side combinable, ties to the smaller j). Query scoring is the
    standard asymmetric distance computation: a per-query distance
    table to every (s, j) code, then approx distance = Σ_s table[s,
    code_s] — one broadcast join on (s, j) against the code table and a
    map-side-combinable sum.

    The ADC scan keeps ``k_candidates`` per query; an EXACT re-rank
    join (full vectors, only for candidates) then emits the final
    ``k`` — the production PQ shape: the compressed scan bounds how
    many full vectors are ever touched (k_candidates × queries rows,
    not the corpus).

    Determinism across engines: per-subspace squared distances are
    converted to integer micro-units (×1e6, rounded) BEFORE any
    aggregation, so every sum and every ranking comparison is exact
    integer math — no float-accumulation-order or .5-rounding hazards;
    the re-rank distance is integerized the same way. Returns
    (query_id, rank, vec_id, d2_e6).
    """
    cb = F.broadcast(
        codebook.select(
            F.col("s"), F.col("j"), F.col("code_vec").alias("cbv")
        )
    )
    # unrolled fixed-dim distances (guide §4.1): these evaluate inside
    # codegen'd hash-aggregate / project stages where the fixed-length
    # sum compiles, and the instance count is small (A/B-measured
    # faster than the aggregate/zip_with fold at sf0.1: 2.1 s vs 3.1 s
    # rebuild). Identical fold order → identical doubles/micro-units.
    # Here the SUM is rounded to micro-units (d2e6_col rounds each term).
    d2_e6 = F.round(d2_col("sub", "cbv", sub_dim) * 1e6, 0).cast("long")

    codes = nearest(
        _pq_sub_rows(corpus, corpus_id, corpus_vec, "vec_id", m, sub_dim),
        ["vec_id", "s"],
        cb,
        d2_e6,
        "j",
    ).select("vec_id", "s", "j")
    qtab = (
        _pq_sub_rows(queries, query_id, query_vec, "query_id", m, sub_dim)
        .join(cb, "s")
        .select("query_id", "s", "j", d2_e6.alias("qd2"))
    )
    return _pq_rerank(
        codes.join(F.broadcast(qtab), ["s", "j"]),
        corpus.select(
            F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("cv")
        ),
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
        ),
        F.round(d2_col("cv", "qv", m * sub_dim) * 1e6, 0).cast("long"),
        k_candidates,
        k,
    )


def ivf_pq_top_k_fixed(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 10,
    k_candidates: int = 50,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF-PQ — the production big-ANN composition (FAISS IVFPQ shape):
    a coarse quantizer PRUNES (each corpus vector lives in one inverted
    list; queries probe ``n_probe`` lists), product quantization
    COMPRESSES (each pruned vector scans as m one-byte codes via the
    asymmetric distance table), and an exact re-rank touches full
    vectors only for the ``k_candidates`` ADC survivors. At 100 TB:
    the list assignment + codes persist once (bucketBy on the list
    id), a query batch broadcasts its probe set and distance tables,
    and the scan cost is |probed lists| × m bytes — neither the full
    corpus nor any full vectors except k_candidates × |queries| rows.

    Determinism across engines: every squared distance (assignment,
    ADC table, re-rank) is integerized PER ELEMENT (round(diff²·1e6)
    summed as integers), so no float accumulation order or .5-rounding
    hazard exists anywhere — a SQL twin replays assignment → probe →
    encode → ADC → re-rank bit-for-bit. Returns
    (query_id, rank, vec_id, d2_e6)."""
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    # The distances stay the fold: the unrolled form (d2e6_col with a
    # dim) measured slower for this operator at sf0.01 on a 4-core host
    # — ~0.5 s more per warm run, ~4 s more on the cold-codegen first.
    cent = F.broadcast(
        centroids.select(F.col("cid"), F.col("centroid").alias("cent_v"))
    )
    # round 11 (guide §2.5): the corpus parquet arrives as ONE split at
    # bench scale, serializing the two CPU-heavy scan-rooted stages
    # (coarse assignment argmin and the ×m PQ-encode explode) on a
    # single core (r11 profile: 4.2 s + 3.9 s single-task stages).
    # spread_small_scan repartitions on the id only when the scan is
    # narrower than the cluster — a no-op on a wide 100-TB scan.
    c = spread_small_scan(corpus, corpus_id).select(
        F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("cv")
    )
    assigned = nearest(
        c, ["vec_id"], cent, d2e6_col("cv", "cent_v"), "cid"
    ).select("vec_id", F.col("cid").alias("bucket"))
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    q_probes = top_k(
        q.join(cent).select(
            "query_id", "cid", d2e6_col("qv", "cent_v").alias("d")
        ),
        "query_id",
        [F.col("d").asc(), F.col("cid").asc()],
        n_probe,
        "pr",
    ).select("query_id", F.col("cid").alias("bucket"))
    # the query universe: (query, corpus vector) pairs inside probed lists
    probed = assigned.join(F.broadcast(q_probes), "bucket").select(
        "query_id", "vec_id"
    )

    cb = F.broadcast(
        codebook.select("s", "j", F.col("code_vec").alias("cbv"))
    )
    sub_d2 = d2e6_col("sub", "cbv")
    codes = nearest(
        _pq_sub_rows(c, "vec_id", "cv", "vec_id", m, sub_dim),
        ["vec_id", "s"],
        cb,
        sub_d2,
        "j",
    ).select("vec_id", "s", "j")
    qtab = (
        _pq_sub_rows(q, "query_id", "qv", "query_id", m, sub_dim)
        .join(cb, "s")
        .select("query_id", "s", "j", sub_d2.alias("qd2"))
    )
    # ADC restricted to probed lists: explode candidates to their m
    # codes, look each up in the query's distance table
    return _pq_rerank(
        probed.join(codes, "vec_id").join(
            F.broadcast(qtab), ["query_id", "s", "j"]
        ),
        c,
        q,
        d2e6_col("cv", "qv"),
        k_candidates,
        k,
    )


def kmeans_fixed_rounds(
    corpus: DataFrame,
    init_centroids: DataFrame,
    n_rounds: int = 2,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means with FIXED init and a FIXED round count — the
    corpus-clustering step of data-mixing / SemDeDup pipelines, made a
    pure deterministic function of its inputs so a SQL oracle can
    replay it.

    Determinism across engines, the whole trick:

    - distances are Σ_dim round((x_d − c_d)² · 1e6): each TERM is an
      integer, so the sum is exact in any order — argmin (min(struct),
      ties to the smaller cid) cannot be flipped by accumulation order;
    - updated centroid means are integer math too: per-dim values are
      micro-unit integers (round(x·1e6)), summed exactly, and the mean
      is the half-up integer division (2Σ+n) div 2n — both engines
      produce the IDENTICAL double for every centroid dimension.

    Scale shape per round: one corpus × broadcast(k centroids) distance
    scan with a map-side-combinable argmin (no window), then a per-dim
    mean — posexplode to (cid, dim) rows, one shuffle with map-side
    partials. The k-row centroid frame feeds the next round as a
    BROADCAST subplan — centroids never visit the driver and the whole
    fixed-round computation is one lazy plan (neutral-to-~10% vs the
    collect-per-round form at sf0.1 where AQE still materializes each
    broadcast stage, but it removes every sequential driver round-trip
    — the part that grows with cluster latency, not data). A per-dim
    wide aggregate (64 sum columns, no posexplode) was measured and
    REJECTED: 7.5 s vs 5.1 s — the 64-expression aggregate's codegen
    compile per round costs more than the explode shuffle it saves.
    Returns the final assignment (vec_id, cid, d2_e6).
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    # Round 11 (guide §4.1/§2.5): the distance evaluation dominated the
    # entry (r11 profile: 8.8 s of 9.5 s executor time, almost all in
    # ONE task because the small corpus parquet arrives as a single
    # partition). Two fixes, both no-ops at scale: spread the corpus
    # across the cluster's slots before the CPU-heavy distance scan
    # (spread_small_scan — no-op when the scan is already wide), and
    # when the embedding dim is known, evaluate the distance as an
    # unrolled codegen-able sum instead of the interpreted
    # aggregate/zip_with fold (bit-identical result — same per-term
    # rounding, same addition order).
    corpus = spread_small_scan(corpus, vec_id).select(
        F.col(vec_id).alias("vec_id"), F.col(vec_col).alias("v")
    )

    # centroid frame: (cid int, cv array<double>); doubles from the
    # start so round-0 distances see the same values later rounds do
    cent_df = init_centroids.select(
        F.col("cid").cast("int").alias("cid"),
        F.transform("centroid", lambda x: x.cast("double")).alias("cv"),
    )

    def assign(cent_df):
        # carry the vector through the argmin so the means step needs no
        # corpus re-join (v is constant within a vec_id group — first()
        # is deterministic); the final assignment prunes the payload
        return nearest(
            corpus,
            ["vec_id"],
            F.broadcast(cent_df),
            d2e6_col("v", "cv", dim),
            "cid",
            carry=("v",),
        ).select("vec_id", "cid", F.col("d").alias("d2_e6"), "v")

    for _ in range(n_rounds):
        cent_df = (
            assign(cent_df)
            .select("cid", F.posexplode("v").alias("dim", "x"))
            .select(
                "cid",
                "dim",
                F.round(F.col("x").cast("double") * 1e6, 0)
                .cast("long")
                .alias("xi"),
            )
            .groupBy("cid", "dim")
            .agg(
                (
                    F.expr("(2 * sum(xi) + count(*)) div (2 * count(*))")
                    / F.lit(1e6)
                ).alias("m")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.m,
                ).alias("cv")
            )
        )
    return assign(cent_df).select("vec_id", "cid", "d2_e6")


def dbscan_from_pairs(
    points: DataFrame,
    pairs: DataFrame,
    min_neighbors: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Density clustering (DBSCAN) given a precomputed ε-neighbor pair
    list — the candidate generator is pluggable: exact broadcast pairs
    for small corpora (`cosine_dbscan` below), `embedding_near_duplicates`
    LSH buckets at 100 TB; the clustering logic is identical.

    Standard DBSCAN roles: a point with ≥ ``min_neighbors`` ε-neighbors
    is CORE; non-core points adjacent to a core point are BORDER
    (attached to the smallest adjacent core cluster — the deterministic
    tie-break); everything else is NOISE (cluster −1). Cluster labels
    are the minimum core id of each core component.

    Scale shape: one explode of the pair list + count agg for degrees,
    `connected_components` over the core-core subgraph (label
    propagation with parent hooking and pointer jumping, so a chain of
    core points costs rounds in the log of its length, not the length),
    and one broadcast-sized join to attach borders. Everything shuffles
    on point/pair ids only.
    Returns (vec_id, role, cluster).
    """
    from archive_to_parquet_spark.operators.dedup import connected_components

    # the pair list feeds FOUR consumers (degrees, two core semi-joins,
    # border attach) — materialize it once or the candidate generator's
    # join re-executes per consumer (measured 5× end-to-end on the
    # exact-pairs form at sf0.1). The pair count, harvested from the
    # same job, sizes the shuffle-partition scope of the core table and
    # the CC loop below.
    pairs, n_pairs = checkpoint_counted(pairs)
    directed = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"))
    )
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
    )

    deg = directed.groupBy("id").agg(F.count("*").alias("n_nbrs"))
    with loop_shuffle_scope(points.sparkSession, 4 * n_pairs):
        # core feeds THREE consumers (two semi-joins, the border
        # anti-join) plus the self-loop seed — without materialization
        # the degree aggregation re-executes inside each, including
        # inside connected_components' edges checkpoint.  The groupBy
        # already hash-partitions on id; the partitioning-keeping
        # checkpoint lets every id-keyed consumer plan exchange-free.
        core = checkpoint_keeping_partitioning(
            deg.filter(F.col("n_nbrs") >= min_neighbors).select("id")
        )
        core_edges = (
            pairs.join(
                core.withColumnRenamed("id", "id_a"), "id_a", "left_semi"
            )
            .join(core.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
            .select("id_a", "id_b")
        )
        # isolated core points (no core neighbor) still form their own
        # cluster — seed the component table with self-loops
        comps = connected_components(
            core_edges.unionByName(
                core.select(
                    F.col("id").alias("id_a"), F.col("id").alias("id_b")
                )
            )
        )
    core_lbl = comps.select("id", F.col("component").alias("cluster"))
    border_lbl = (
        directed.join(core_lbl.withColumnRenamed("id", "nbr"), "nbr")
        .join(core, "id", "left_anti")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_lbl.select(
        "id", F.lit("core").alias("role"), "cluster"
    ).unionByName(
        border_lbl.select("id", F.lit("border").alias("role"), "cluster")
    )
    return (
        points.select(F.col(id_col).alias("id"))
        .join(labeled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.coalesce("cluster", F.lit(-1)).alias("cluster"),
        )
    )


def lsh_epsilon_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Banded-LSH ε-neighbor pair generator — the 100-TB replacement
    for the exact all-pairs join: each vector gets ``num_bands`` bucket
    ids (sign bits against ``num_planes`` md5-literal hyperplanes per
    band, seeds ``seed + 101*band``), pairs are generated ONLY within
    (band, bucket) groups, then confirmed by exact cosine (6dp-rounded
    ≥ threshold). False candidates are eliminated exactly, so precision
    is exact; recall is the banded-LSH OR-construction (miss
    probability per true pair ≈ (1 − (1 − θ/π)^planes)^bands,
    vanishing for near-dup angles).

    Scale shape: one scan computes all band buckets, one posexplode to
    (id, band_idx, bucket), ONE shuffle on (band_idx, bucket) — the
    banded rows are materialized hash-partitioned on the bucket key
    (checkpoint_partitioned, r7 verdict ask #5), so the in-bucket
    self-join reads the SAME partitioned relation on both sides with
    zero further exchanges and without recomputing the hyperplane
    projections per side — then pair-distinct and two id-keyed joins to
    fetch vectors for the exact filter; no all-pairs anywhere
    (tests/test_plan_shapes.py pins the absence of nested-loop joins).
    """
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_partitioned,
    )

    # feeds banding + both sides of the exact filter; materialized
    # hash-partitioned on id so the two vector-fetch joins below plan
    # with NO exchange on the vector side (r7 verdict ask #5)
    side = checkpoint_partitioned(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm_col(vec_col).alias("n"),
        ),
        "id",
    )
    band_cols = [
        hyperplane_bucket_literal(
            "v", fixed_hyperplanes(num_planes, dim, seed=seed + 101 * b)
        ).alias(f"b{b}")
        for b in range(num_bands)
    ]
    banded = checkpoint_partitioned(
        side.select("id", *band_cols).select(
            "id",
            F.posexplode(
                F.array(*[F.col(f"b{b}") for b in range(num_bands)])
            ).alias("band_idx", "bucket"),
        ),
        "band_idx",
        "bucket",
    )
    cand = bucket_pairs(banded, ["band_idx", "bucket"]).distinct()
    va = side.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    vb = side.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            F.round(
                cosine_from_norms("va", "vb", "na", "nb"),
                6,
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )
    return pairs


def lsh_dbscan(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    min_neighbors: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """DBSCAN with the banded-LSH ε-pair generator
    (`lsh_epsilon_pairs`) — the 100-TB form of `cosine_dbscan`: same
    clustering machinery (`dbscan_from_pairs`: degrees → core
    components → border attach), but the candidate join shuffles on
    (band, bucket) instead of materializing all vector pairs."""
    pairs = lsh_epsilon_pairs(
        df, dim, threshold, id_col, vec_col, num_planes, num_bands, seed
    )
    return dbscan_from_pairs(df, pairs, min_neighbors, id_col)


def cosine_dbscan(
    df: DataFrame,
    threshold: float = 0.95,
    min_neighbors: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DBSCAN with exact cosine ε-neighbors (similarity ≥ threshold,
    compared after 6dp rounding so an engine-order ulp can't flip a
    boundary pair). The all-pairs generator (``bucket_pairs`` with no
    keys) is the exact-baseline path (norms hoisted below the join);
    swap in LSH pairs at corpus scale.
    """
    side = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm_col(vec_col).alias("n"),
    )
    pairs = (
        bucket_pairs(
            side,
            [],
            F.round(cosine_from_norms("a.v", "b.v", "a.n", "b.n"), 6).alias("cos6"),
        )
        .filter(F.col("cos6") >= threshold)
        .select("id_a", "id_b")
    )
    return dbscan_from_pairs(df, pairs, min_neighbors, id_col)
