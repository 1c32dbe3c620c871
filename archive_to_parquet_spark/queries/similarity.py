"""Similarity family: ANN top-k (brute force, LSH, IVF, PQ, IVF-PQ, JL,
bucketed serving), BM25 search and its persisted-index and hybrid
twins, retrieval evaluation, clustering and embedding operators. Each
approximate path uses deterministic hyperplanes, centroids or
codebooks and exact confirmation, so DuckDB proves recall, not just
shape.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.text import terms_col
from archive_to_parquet_spark.functions.vectors import l2_norm_col
from archive_to_parquet_spark.operators.candidates import top_k
from archive_to_parquet_spark.operators.similarity import (
    cosine_top_k,
    fixed_hyperplanes,
    ivf_top_k_fixed_centroids,
    lsh_top_k,
)
from archive_to_parquet_spark.queries.relational import _stage_dir, _t


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10: every 50th vector queries the corpus.
    Broadcast queries × one corpus scan; rank on the ROUNDED score so
    float noise can't flip the deterministic (score, vec_id) order."""
    from archive_to_parquet_spark.operators.similarity import brute_force_top_k

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = brute_force_top_k(emb, q, k=10, round_to=6)
    return topk.select("query_id", "vec_id", "cosine", "rank")


ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, e.vec_id,
         -- cast to double: duckdb computes float-list cosine in float32,
         -- spark accumulates in double
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a deterministic coarse quantizer:
    every 31st corpus vector is a centroid (inverted-list id), queries
    probe their 4 nearest lists, exact cosine re-rank inside probed
    lists. Oracle-checked end-to-end — DuckDB reproduces assignment,
    probing, and re-rank exactly (distances/cosines rounded before
    ranking on both sides)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_top_k_fixed_centroids(
        emb, cent, q, k=10, n_probe=4, round_to=6, dim=64
    )


ANN_IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
), qp AS (
  SELECT query_id, qv, cid AS bucket
  FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_distance(q.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id % 50 = 0
  ) WHERE rn <= 4
), scored AS (
  SELECT qp.query_id, a.vec_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], qp.qv::DOUBLE[]), 6) AS cosine
  FROM assigned a JOIN qp ON a.bucket = qp.bucket
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with exact cross-engine
    verification: per vector — the scale, integer L1 mass and
    position-weighted checksum of the quantized codes (exact ints, so
    the hash compare proves bit-identical quantization), plus an
    in-plan certification that dequantized cosine vs the original stays
    ≥ 0.99. Pure JVM higher-order functions; at 100 TB this is the 4×
    corpus-memory reduction step before ANN indexing."""
    from archive_to_parquet_spark.functions.vectors import (
        cosine_similarity_col,
        quantize_int8_cols,
    )

    qz = quantize_int8_cols("embedding")
    emb = _t(spark, sf_dir, "embeddings").withColumn("scale", qz["scale"])
    dequant = F.transform(
        qz["q"],
        lambda x: x.cast("double")
        * F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale")),
    )
    # the scale is rounded in a later projection: Spark resolves a
    # lambda's ``scale`` to a same-named alias in its own select list,
    # so q and dequant would read the rounded value
    return emb.select(
        "vec_id",
        "scale",
        F.aggregate(
            qz["q"], F.lit(0), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.aggregate(
            F.zip_with(
                qz["q"],
                F.sequence(F.lit(1), F.size(qz["q"])),
                lambda x, i: x * i,
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).alias("q_checksum"),
        (cosine_similarity_col("embedding", dequant) >= 0.99)
        .cast("int")
        .alias("cos_ok"),
    ).withColumn("scale", F.round("scale", 6))


EMBEDDING_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, scale,
         list_transform(emb, x -> greatest(-127, least(127,
           CAST(floor(x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)
                AS INT)))) AS qv
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS INT) AS q_l1,
       CAST(list_sum([qv[i] * i for i in generate_series(1, len(qv))]) AS INT)
         AS q_checksum,
       1 AS cos_ok
FROM q
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with 2-bit multi-probe,
    oracle-checked end-to-end: the 8 planes are md5-derived LITERALS
    (identical in any engine), so DuckDB reproduces bucket assignment,
    probe expansion, and the in-bucket exact re-rank — equality checks
    the approximate algorithm itself, not a relaxed summary."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = fixed_hyperplanes(num_planes=8, dim=64)
    return lsh_top_k(
        emb, q, k=10, multi_probe_bits=2, planes=planes, round_to=6
    )


def _ann_lsh_oracle_sql(
    num_planes: int = 8, dim: int = 64, multi_probe_bits: int = 2, k: int = 10
) -> str:
    """Generated DuckDB twin of the literal-plane LSH top-k: the plane
    matrix is embedded as double literals (md5-derived, identical to the
    Spark plan's), buckets are sign-bit sums, probes are the same
    xor-mask expansion, re-rank the same rounded cosine."""
    planes = fixed_hyperplanes(num_planes, dim)
    plane_cols = ",\n         ".join(
        "[" + ", ".join(repr(x) for x in pl) + "]::DOUBLE[] AS p" + str(p)
        for p, pl in enumerate(planes)
    )

    def bucket(v: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({v}::DOUBLE[], p{p}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )

    masks = [0] + [1 << b for b in range(num_planes)]
    if multi_probe_bits >= 2:
        masks += [
            (1 << b1) | (1 << b2)
            for b1 in range(num_planes)
            for b2 in range(b1 + 1, num_planes)
        ]
    mask_list = ", ".join(str(m) for m in masks)
    return f"""
WITH planes AS (
  SELECT {plane_cols}
), c AS (
  SELECT vec_id, embedding, {bucket('embedding')} AS bucket
  FROM embeddings CROSS JOIN planes
), q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, {bucket('embedding')} AS b0
  FROM embeddings CROSS JOIN planes
  WHERE vec_id % 50 = 0
), probes AS (
  SELECT DISTINCT query_id, CAST(xor(b0::BIGINT, mask::BIGINT) AS INT) AS bucket
  FROM q0 CROSS JOIN (SELECT unnest([{mask_list}]) AS mask) m
), scored AS (
  SELECT p.query_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q0.qv::DOUBLE[]), 6) AS cosine
  FROM probes p
  JOIN c ON c.bucket = p.bucket
  JOIN q0 ON q0.query_id = p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


ANN_LSH_SQL = _ann_lsh_oracle_sql()


# ---------------------------------------------------------------------------
# Retrieval / language-model / mixing operators (training-data pipeline)
# ---------------------------------------------------------------------------

# Fixed retrieval workload: terms drawn from the synthetic corpus vocab.
_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q_shuffle", ["spark", "shuffle", "join"]),
    ("q_scan", ["hash", "table", "scan"]),
    ("q_sort", ["window", "sort", "merge"]),
]


def _bm25_relevance(docs: DataFrame) -> DataFrame:
    """Deterministic relevance set for the BM25 eval entries:
    (query_id, doc_id) for every document containing EVERY term of the
    query.

    Round 11 (guide §2.3/§3.3): formerly crossJoin(docs × broadcast
    term list) — a BroadcastNestedLoopJoin that streamed every document
    row 9× with the full text attached, then re-aggregated on
    (query_id, doc_id) to count per-query term hits (one more
    exchange). The query list is a tiny module literal, so the same
    set is computable in ONE narrow projection: per document a boolean
    AND of contains() per query, then explode the matching query ids —
    no pair multiplication, no BNLJ, no aggregation exchange. Pair set
    is identical by construction (doc relevant ⇔ AND of its term
    containments), verified by the unchanged oracle hashes."""
    import functools

    low = F.lower("text")
    per_query = [
        F.when(
            functools.reduce(
                lambda a, b: a & b,
                [F.contains(low, F.lit(t)) for t in terms],
                # initializer (ADVICE r11): reduce() over an empty term
                # list raised TypeError at plan build. TRUE reads the
                # empty query as vacuously satisfied ("no term is
                # missing"); _BM25_QUERIES is a fixed non-empty literal,
                # so for every real query `true AND ...` constant-folds
                # away and results are unchanged.
                F.lit(True),
            ),
            F.lit(qid),
        )
        for qid, terms in _BM25_QUERIES
    ]
    return docs.select(
        "doc_id",
        F.explode(
            F.filter(F.array(*per_query), lambda x: x.isNotNull())
        ).alias("query_id"),
    ).select("query_id", "doc_id")


def _bm25_scores(
    matched: DataFrame, df_counts: DataFrame, dl: DataFrame
) -> DataFrame:
    """The one Okapi BM25 scorer (k1=1.2, b=0.75): ``matched`` is the
    term-frequency frame (doc_id, term, tf) already joined to the query
    terms (query_id, term), ``df_counts`` (term, df) the matched terms'
    document frequencies and ``dl`` (doc_id, dl) every document's
    length, which also gives the corpus stats. Returns
    (query_id, doc_id, score), the score rounded to 4 places so
    cross-engine float summation order cannot flip a rank."""
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        matched.join(F.broadcast(df_counts), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )


def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2, b=0.75) top-10 retrieval over documents.

    Scale shape: the inverted index (per-doc term frequencies) is one
    shuffle on (doc_id, term) with map-side combine, then materialized
    ONCE hash-partitioned on doc_id — its three consumers (doc
    lengths, document frequencies, scoring) would otherwise each
    re-execute the tokenize+count pass, and the doc-keyed joins now
    plan co-partitioned with no exchange. Query terms and their
    document frequencies are broadcast, so the only doc-keyed join
    carries rows for matched query terms only (AQE broadcasts the small
    side). Ranking sorts on the ROUNDED score so cross-engine float
    summation order cannot flip ranks; ties break on doc_id.
    """
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
        checkpoint_partitioned,
    )

    docs = _t(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id string, term string",
    )
    tokens = docs.select(
        "doc_id",
        F.explode(terms_col("text")).alias("term"),
    )
    tf = checkpoint_partitioned(
        tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf")),
        "doc_id",
    )
    # round 11 (guide §2.4/§5): dl feeds TWO consumers (corpus stats and
    # the scoring join) — un-materialized, the whole tf pass + per-doc
    # aggregation executed twice per run (the r11 profile's repeated
    # 12-15 s checkpoint-consumer stages). dl is one small row per doc;
    # the partitioning-keeping checkpoint keeps the doc_id co-partition
    # so the scoring join still plans exchange-free.
    dl = checkpoint_keeping_partitioning(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    )
    df_counts = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = _bm25_scores(tf.join(F.broadcast(qterms), "term"), df_counts, dl)
    return (
        top_k(
            scored,
            "query_id",
            [F.col("score").desc(), F.col("doc_id").asc()],
            10,
            "rank",
        ).select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score",
        )
    )


def _bm25_oracle_sql() -> str:
    values = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return rf"""
WITH q(query_id, term) AS (VALUES {values}),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(SUM(ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))),
               4) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
FROM ranked WHERE rank <= 10
"""


SEARCH_BM25_SQL = _bm25_oracle_sql()


def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per anchor (every 25th vector),
    top-5 most-similar OTHER-label vectors. Broadcast anchors × one
    corpus scan; scores rounded before ranking for cross-engine
    determinism."""
    from archive_to_parquet_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return hard_negatives(emb, anchors, k=5, round_to=6)


MINE_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id % 25 = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neg_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)
           AS cosine
  FROM embeddings e JOIN q ON e.label <> q.q_label
), ranked AS (
  SELECT query_id, neg_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neg_id ASC) AS rank
  FROM scored
)
SELECT query_id, neg_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# ANN: product quantization (asymmetric distance over a fixed codebook)
# ---------------------------------------------------------------------------

def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ approximate top-k with a deterministic codebook: corpus
    vectors 0..127 donate their s-th subvector as code (s = id div 16,
    j = id mod 16; 8 subspaces × 16 codes over dim-64 embeddings);
    queries are every 50th vector. The ADC scan keeps 50 candidates
    per query; exact re-rank (integer micro-unit L2, candidates only)
    emits the top 10. All distance math is integer, so DuckDB replays
    encode + ADC + re-rank bit-for-bit.
    See operators/similarity.pq_top_k_fixed_codebook."""
    from archive_to_parquet_spark.operators.similarity import (
        pq_top_k_fixed_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = emb.filter(F.col("vec_id") < 128).select(
        F.expr("vec_id div 16").cast("int").alias("s"),
        (F.col("vec_id") % 16).cast("int").alias("j"),
        F.slice(
            "embedding", F.expr("vec_id div 16").cast("int") * 8 + 1, 8
        ).alias("code_vec"),
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_top_k_fixed_codebook(emb, cb, q, m=8, sub_dim=8, k=10)


ANN_PQ_SQL = """
WITH cb AS (
  SELECT CAST(vec_id // 16 AS INT) AS s, CAST(vec_id % 16 AS INT) AS j,
         embedding[(vec_id // 16) * 8 + 1 : (vec_id // 16) * 8 + 8] AS cbv
  FROM embeddings WHERE vec_id < 128
), subs AS (
  SELECT e.vec_id, t.s,
         e.embedding[t.s * 8 + 1 : t.s * 8 + 8] AS sub
  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t
), dists AS (
  SELECT su.vec_id, su.s, cb.j,
         CAST(round(list_sum(list_transform(range(1, 9),
           i -> (su.sub[i]::DOUBLE - cb.cbv[i]::DOUBLE)
              * (su.sub[i]::DOUBLE - cb.cbv[i]::DOUBLE))) * 1e6)
           AS BIGINT) AS d2
  FROM subs su JOIN cb ON su.s = cb.s
), codes AS (
  SELECT vec_id, s, j FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, j ASC) AS rn
    FROM dists
  ) WHERE rn = 1
), qtab AS (
  SELECT d.vec_id AS query_id, d.s, d.j, d.d2 AS qd2
  FROM dists d WHERE d.vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(SUM(q.qd2) AS BIGINT) AS approx_d2_e6
  FROM codes c JOIN qtab q ON c.s = q.s AND c.j = q.j
  GROUP BY q.query_id, c.vec_id
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2_e6 ASC, vec_id ASC) AS crank
    FROM scored
  ) WHERE crank <= 50
), reranked AS (
  SELECT cd.query_id, cd.vec_id,
         CAST(round(list_sum(list_transform(range(1, 65),
           i -> (e.embedding[i]::DOUBLE - qe.embedding[i]::DOUBLE)
              * (e.embedding[i]::DOUBLE - qe.embedding[i]::DOUBLE))) * 1e6)
           AS BIGINT) AS d2_e6
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN embeddings qe ON qe.vec_id = cd.query_id
)
SELECT query_id, rank, vec_id, d2_e6 FROM (
  SELECT query_id, vec_id, d2_e6,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2_e6 ASC, vec_id ASC) AS INT)
           AS rank
  FROM reranked
) WHERE rank <= 10
"""


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition — the production big-ANN shape (coarse
    inverted lists prune, PQ codes compress, exact re-rank touches
    candidates only; operators/similarity.ivf_pq_top_k_fixed). Coarse
    centroids are every 100th vector, the PQ codebook is the same
    deterministic donor scheme as ann_pq_topk (vectors 0..127 donate
    subvectors: 8 subspaces × 16 codes), queries are every 50th
    vector, n_probe=2. Every distance is integerized per element, so
    DuckDB replays assignment → probe → encode → ADC → re-rank
    bit-for-bit."""
    from archive_to_parquet_spark.operators.similarity import (
        ivf_pq_top_k_fixed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.expr("vec_id div 100").cast("int").alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    cb = emb.filter(F.col("vec_id") < 128).select(
        F.expr("vec_id div 16").cast("int").alias("s"),
        (F.col("vec_id") % 16).cast("int").alias("j"),
        F.slice(
            "embedding", F.expr("vec_id div 16").cast("int") * 8 + 1, 8
        ).alias("code_vec"),
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_pq_top_k_fixed(
        emb, cent, cb, q, m=8, sub_dim=8, k=10, k_candidates=50, n_probe=2
    )


# per-element integer micro-unit squared distance over a slice window
def _d2e6_sql(a: str, b: str, lo: str, n: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {n + 1}), "
        f"i -> round(({a}[{lo} + i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[{lo} + i]::DOUBLE - {b}[i]::DOUBLE) * 1e6))) AS BIGINT)"
    )


ANN_IVF_PQ_SQL = f"""
WITH cent AS (
  SELECT CAST(vec_id // 100 AS INT) AS cid, embedding AS cv
  FROM embeddings WHERE vec_id % 100 = 0
), cb AS (
  SELECT CAST(vec_id // 16 AS INT) AS s, CAST(vec_id % 16 AS INT) AS j,
         embedding[(vec_id // 16) * 8 + 1 : (vec_id // 16) * 8 + 8] AS cbv
  FROM embeddings WHERE vec_id < 128
), adist AS (
  SELECT e.vec_id, c.cid,
         {_d2e6_sql('e.embedding', 'c.cv', '0', 64)} AS d2
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC)
             AS rn
    FROM adist
  ) WHERE rn = 1
), q_probes AS (
  SELECT query_id, bucket FROM (
    SELECT vec_id AS query_id, cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC)
             AS pr
    FROM adist WHERE vec_id % 50 = 0
  ) WHERE pr <= 2
), probed AS (
  SELECT q.query_id, a.vec_id
  FROM assigned a JOIN q_probes q ON a.bucket = q.bucket
), subs AS (
  SELECT e.vec_id, t.s, e.embedding AS v
  FROM embeddings e, (SELECT unnest(range(0, 8)) AS s) t
), dists AS (
  SELECT su.vec_id, su.s, cb.j,
         {_d2e6_sql('su.v', 'cb.cbv', 'su.s * 8', 8)} AS d2
  FROM subs su JOIN cb ON su.s = cb.s
), codes AS (
  SELECT vec_id, s, j FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, j ASC) AS rn
    FROM dists
  ) WHERE rn = 1
), qtab AS (
  SELECT d.vec_id AS query_id, d.s, d.j, d.d2 AS qd2
  FROM dists d WHERE d.vec_id % 50 = 0
), scored AS (
  SELECT p.query_id, p.vec_id, CAST(SUM(q.qd2) AS BIGINT) AS approx_d2_e6
  FROM probed p
  JOIN codes c ON c.vec_id = p.vec_id
  JOIN qtab q ON q.query_id = p.query_id AND q.s = c.s AND q.j = c.j
  GROUP BY p.query_id, p.vec_id
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2_e6 ASC, vec_id ASC) AS crank
    FROM scored
  ) WHERE crank <= 50
), reranked AS (
  SELECT cd.query_id, cd.vec_id,
         {_d2e6_sql('e.embedding', 'qe.embedding', '0', 64)} AS d2_e6
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN embeddings qe ON qe.vec_id = cd.query_id
)
SELECT query_id, rank, vec_id, d2_e6 FROM (
  SELECT query_id, vec_id, d2_e6,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2_e6 ASC, vec_id ASC) AS INT)
           AS rank
  FROM reranked
) WHERE rank <= 10
"""




# ---------------------------------------------------------------------------
# Corpus clustering: deterministic k-means (fixed init, fixed rounds)
# ---------------------------------------------------------------------------


def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus: every
    100th vector seeds a centroid (5 clusters), 2 update rounds, then a
    final assignment — reported as per-cluster size + inertia. The
    data-mixing / SemDeDup clustering step with every float hazard
    removed (integer micro-unit distances and means), so the oracle
    replays init → assign → update → assign → update → assign exactly.
    See operators/similarity.kmeans_fixed_rounds."""
    from archive_to_parquet_spark.operators.similarity import (
        kmeans_fixed_rounds,
    )

    emb = _t(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.expr("vec_id div 100").cast("int").alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    assigned = kmeans_fixed_rounds(emb, init, n_rounds=2, dim=64)
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("d2_e6").alias("inertia_e6"),
    )


def _kmeans_oracle_sql() -> str:
    d2 = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> round((e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE) "
        "* (e.embedding[i]::DOUBLE - c.cv[i]::DOUBLE) * 1e6))) AS BIGINT)"
    )

    def assign(cent, name):
        return f"""{name} AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT e.vec_id, c.cid, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2} ASC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""

    def update(assigned, name):
        return f"""{name} AS (
  SELECT cid, array_agg(m ORDER BY dim) AS cv FROM (
    SELECT a.cid, t.i AS dim,
           ((2 * SUM(CAST(round(e.embedding[t.i]::DOUBLE * 1e6) AS BIGINT))
             + COUNT(*)) // (2 * COUNT(*))) / 1e6 AS m
    FROM {assigned} a JOIN embeddings e USING (vec_id),
         (SELECT unnest(range(1, 65)) AS i) t
    GROUP BY a.cid, t.i
  ) GROUP BY cid
)"""

    return f"""
WITH c0 AS (
  SELECT CAST(vec_id // 100 AS INT) AS cid, embedding AS cv
  FROM embeddings WHERE vec_id % 100 = 0
),
{assign("c0", "a0")},
{update("a0", "c1")},
{assign("c1", "a1")},
{update("a1", "c2")},
{assign("c2", "a2")}
SELECT cid, COUNT(*) AS n_members, CAST(SUM(d2) AS BIGINT) AS inertia_e6
FROM a2 GROUP BY cid
"""


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding cosine vs a benchmark set)
# ---------------------------------------------------------------------------

def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: flag corpus vectors whose max
    cosine against the benchmark slice (vec_id % 20 == 0) exceeds 0.98
    — catches paraphrase-level contamination n-gram overlap misses.
    The benchmark is broadcast (it is the small side by construction);
    one corpus scan computes the running max — a map-side-combinable
    agg, no window. For benchmark sets too big to broadcast, bucket
    both sides with the LSH hyperplanes (`lsh_top_k` machinery) and
    max within buckets — same output contract."""
    from archive_to_parquet_spark.functions.vectors import (
        cosine_similarity_col,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bv")
    )
    pairs = emb.join(F.broadcast(bench)).filter(
        F.col("vec_id") != F.col("bench_id")
    )
    cos = F.round(cosine_similarity_col("embedding", "bv"), 6)
    return (
        pairs.select("vec_id", cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            (F.col("max_cos") > 0.98).cast("int").alias("contaminated"),
        )
    )


DECONTAMINATE_SEMANTIC_SQL = """
SELECT e.vec_id,
       max(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6))
         AS max_cos,
       CAST(max(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]), 6))
              > 0.98 AS INT) AS contaminated
FROM embeddings e
JOIN embeddings b ON b.vec_id % 20 = 0 AND e.vec_id <> b.vec_id
GROUP BY e.vec_id
"""


# ---------------------------------------------------------------------------
# Density clustering (DBSCAN) over embeddings
# ---------------------------------------------------------------------------

def _dbscan_planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared planted-density corpus of the two DBSCAN entries:
    natural vectors are mutually distant (max pairwise cosine ≈ 0.51,
    far below the 0.95 ε) so every natural point is NOISE; each seed
    (vec_id % 50 == 0) gets deterministic ±1–2%-per-dim perturbed
    copies — one copy for even seed ranks (a pair: both degree-1,
    still noise at min_neighbors=2) and two copies for odd ranks (a
    triangle: all three CORE, cluster = seed id)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seeds = emb.filter(F.col("vec_id") % 50 == 0)

    def planted(k: int):
        src = seeds if k == 1 else seeds.filter(
            F.expr("vec_id div 50").cast("long") % 2 == 1
        )
        return src.select(
            (F.col("vec_id") + k * 1000000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                * (1 + 0.01 * k * (((i + 1 + k) % 3) - 1).cast("double")),
            ).alias("embedding"),
        )

    return emb.unionByName(planted(1)).unionByName(planted(2))


def cluster_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the planted-density corpus with the EXACT all-pairs
    ε-neighbor generator — the small-corpus ground-truth baseline for
    `cluster_dbscan_lsh` (the certified 100-TB form). The oracle states
    the closed form the construction implies; the generic machinery
    (ε-pairs → degrees → core components → border attach) is exercised
    on crafted geometry incl. borders in tests/test_queries_ext.
    """
    from archive_to_parquet_spark.operators.similarity import cosine_dbscan

    corpus = _dbscan_planted_corpus(spark, sf_dir)
    return cosine_dbscan(corpus, threshold=0.95, min_neighbors=2)


def cluster_dbscan_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the same planted-density corpus with the banded-LSH
    ε-pair generator (operators/similarity.lsh_dbscan) — the 100-TB
    form: pairs are generated only within (band, bucket) LSH groups
    (4 bands × 8 md5-literal hyperplanes) and confirmed by exact
    cosine, so the plan has NO all-pairs join anywhere. Precision is
    exact by construction; recall of the planted geometry (pair angles
    ≤ ~0.02 rad at cosine ≥ 0.9995) is verified 100% at every SF under
    these fixed literal planes, so the oracle is the SAME closed form
    as `cluster_dbscan` — the two entries certify that the scale path
    and the exact baseline agree."""
    from archive_to_parquet_spark.operators.similarity import lsh_dbscan

    corpus = _dbscan_planted_corpus(spark, sf_dir)
    return lsh_dbscan(
        corpus, dim=64, threshold=0.95, min_neighbors=2,
        num_planes=8, num_bands=4, seed=7,
    )


CLUSTER_DBSCAN_SQL = """
WITH pts AS (
  SELECT vec_id, CAST(vec_id AS BIGINT) AS seed, 0 AS is_copy
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, vec_id, 1 FROM embeddings WHERE vec_id % 50 = 0
  UNION ALL
  SELECT vec_id + 2000000, vec_id, 1 FROM embeddings
  WHERE vec_id % 50 = 0 AND (vec_id // 50) % 2 = 1
)
SELECT vec_id,
       CASE WHEN (seed % 50 = 0 AND (seed // 50) % 2 = 1)
             AND (is_copy = 1 OR vec_id = seed)
            THEN 'core' ELSE 'noise' END AS role,
       CASE WHEN (seed % 50 = 0 AND (seed // 50) % 2 = 1)
             AND (is_copy = 1 OR vec_id = seed)
            THEN seed ELSE -1 END AS cluster
FROM pts
"""


# ---------------------------------------------------------------------------
# Persisted search index + probe (corpus never rescanned per query)
# ---------------------------------------------------------------------------

def search_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against a PERSISTED inverted index: the postings table
    (term, doc_id, tf) and doc-length table are built once and written
    as parquet artifacts (postings sorted by term within files, so
    row-group stats narrow term lookups); the probe phase answers the
    same queries as `search_bm25` reading ONLY the index — the corpus
    text is never rescanned per query batch, which is the economics of
    a standing search index at 100 TB (index build amortizes, probes
    touch postings for query terms only via pushed-down term filters).
    Output contract and oracle are identical to `search_bm25` — the
    index round-trip must be score-exact.
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("searchidx", sf_dir)
    postings_path = os.path.join(stage, "postings")
    doclen_path = os.path.join(stage, "doclen")

    tokens = docs.select(
        "doc_id",
        F.explode(terms_col("text")).alias("term"),
    )
    tf_build = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    (
        tf_build.repartition("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(postings_path)
    )
    tf_build.groupBy("doc_id").agg(F.sum("tf").alias("dl")).write.mode(
        "overwrite"
    ).parquet(doclen_path)

    # ---- probe phase: index artifacts only ----
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id string, term string",
    )
    terms = sorted({t for _, ts in _BM25_QUERIES for t in ts})
    tf = spark.read.parquet(postings_path).filter(F.col("term").isin(terms))
    dl = spark.read.parquet(doclen_path)
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = _bm25_scores(tf.join(F.broadcast(qterms), "term"), df_counts, dl)
    return (
        top_k(
            scored,
            "query_id",
            [F.col("score").desc(), F.col("doc_id").asc()],
            10,
            "rank",
        ).select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score",
        )
    )


# ---------------------------------------------------------------------------
# Ranking evaluation: nDCG@10 for the BM25 retriever
# ---------------------------------------------------------------------------

# log2 discounts as PRECOMPUTED nano-unit integers (1e9/log2(rank+1)),
# plus their prefix sums for the ideal DCG — embedding the constants as
# literals sidesteps the JVM-vs-libm log ulp divergence entirely, and
# integer DCG sums are exact in any accumulation order.
_NDCG_DISC_E9 = [1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826]
_NDCG_IDCG_E9 = [1000000000, 1630929754, 2130929754, 2561606312, 2948459119, 3304666306, 3637999639, 3953464516, 4254494512, 4543559338]


def eval_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 retriever against a deterministic relevance
    rule — a document is relevant to a query iff it contains EVERY
    query term. The evaluation-harness pattern for a retrieval stack:
    rankings from `search_bm25` (unchanged), relevance labels from one
    corpus scan with the broadcast term list, DCG/IDCG in exact integer
    nano-units, ndcg = round(dcg/idcg, 6) on bit-identical integers.
    Returns (query_id, n_rel, ndcg).
    """

    docs = _t(spark, sf_dir, "documents")
    # Round 12 (guide §2.4, verdict ask #9): n_rel and the DCG join
    # each consumed the relevance projection, re-running the full
    # docs scan + 9 contains() per document TWICE per run (the r12
    # profile's twin 3.4 s + 2.1 s scan stages). The 30-row ranking is
    # checkpointed (so its TWO tiny consumers below don't re-run the
    # whole BM25 build) and broadcast INTO one rel pass that computes
    # n_rel and dcg in a single aggregation. Identical results: the
    # (ranked ∩ rel) pair set contributes the same exact-integer disc
    # terms, queries ranked-but-irrelevant come back via the full join
    # with the ranked query ids (dcg 0 ≡ old coalesce), and queries
    # relevant-but-unranked sum zero hits (≡ old left-join nulls).
    ranked = search_bm25(spark, sf_dir).localCheckpoint()
    rel = _bm25_relevance(docs)
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC_E9]), F.col("rank")
    )
    per_q = (
        rel.join(
            F.broadcast(ranked.select("query_id", "doc_id", "rank")),
            ["query_id", "doc_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_rel"),
            F.sum(
                F.when(F.col("rank").isNotNull(), disc)
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("dcg_e9"),
        )
    )
    rq = ranked.select("query_id").distinct()
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in _NDCG_IDCG_E9]),
        F.least(F.col("n_rel"), F.lit(10)).cast("int"),
    )
    return (
        per_q.join(rq, "query_id", "full")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
            F.when(F.coalesce("n_rel", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("dcg_e9", F.lit(0)) / idcg, 6
                )
            )
            .alias("ndcg"),
        )
    )


def _ndcg_oracle_sql() -> str:

    terms = ", ".join(
        "('{qid}', '{t}', {n})".format(qid=qid, t=t, n=len(ts))
        for qid, ts in _BM25_QUERIES
        for t in ts
    )
    disc = ", ".join(
        "({i}, CAST({d} AS BIGINT))".format(i=i + 1, d=d)
        for i, d in enumerate(_NDCG_DISC_E9)
    )
    idcg = ", ".join(
        "({i}, CAST({v} AS BIGINT))".format(i=i + 1, v=v)
        for i, v in enumerate(_NDCG_IDCG_E9)
    )
    bm25 = SEARCH_BM25_SQL
    return f"""
WITH ranked AS ({bm25}),
q(query_id, term, n_terms) AS (VALUES {terms}),
disc(rank, d_e9) AS (VALUES {disc}),
idcg_t(k, idcg_e9) AS (VALUES {idcg}),
rel AS (
  SELECT q.query_id, d.doc_id
  FROM documents d CROSS JOIN q
  WHERE contains(lower(d.text), q.term)
  GROUP BY q.query_id, d.doc_id, q.n_terms
  HAVING COUNT(*) = q.n_terms
),
n_rel AS (SELECT query_id, COUNT(*) AS n_rel FROM rel GROUP BY 1),
dcg AS (
  SELECT r.query_id,
         SUM(CASE WHEN rel.doc_id IS NOT NULL THEN disc.d_e9 ELSE 0 END)
           AS dcg_e9
  FROM ranked r
  JOIN disc ON disc.rank = r.rank
  LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  GROUP BY r.query_id
)
SELECT COALESCE(d.query_id, n.query_id) AS query_id,
       COALESCE(n.n_rel, 0) AS n_rel,
       CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0.0
            ELSE round(COALESCE(d.dcg_e9, 0)
                   / CAST(i.idcg_e9 AS DOUBLE), 6) END AS ndcg
FROM dcg d
FULL JOIN n_rel n ON d.query_id = n.query_id
LEFT JOIN idcg_t i ON i.k = least(COALESCE(n.n_rel, 0), 10)
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (literal matrix, integer math)
# ---------------------------------------------------------------------------

_JL_IN_DIM = 64
_JL_OUT_DIM = 8


def _jl_matrix_e6(out_dim: int = _JL_OUT_DIM, in_dim: int = _JL_IN_DIM,
                  seed: int = 7) -> list[list[int]]:
    """Projection weights in integer micro-units, derived from md5 so
    any engine reproduces them: w[j][d] = first 60 bits of
    md5("jl{seed}_{j}_{d}") mapped to [-1e6, 1e6)."""
    return [
        [
            int(
                int(hashlib.md5(f"jl{seed}_{j}_{d}".encode()).hexdigest()[:15], 16)
                / float(1 << 59) * 1e6
            )
            - 1_000_000
            for d in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the 64-d embeddings to 8 dims with a literal
    md5-derived JL matrix. Components and weights are converted to
    integer micro-units BEFORE the dot product (floor(x·1e6 + 0.5) —
    floor is exact in every engine, unlike round on exact halves), so
    the projected values are exact integers: order-independent,
    engine-independent.

    Scale: pure per-row column math over one scan — zero shuffle, the
    matrix is a plan literal (constant-folded). This is the standard
    pre-ANN width reducer: 8-d candidates, 64-d exact re-rank.
    """
    from archive_to_parquet_spark.operators.similarity import (
        long_array_literal,
    )

    emb = _t(spark, sf_dir, "embeddings")
    w = _jl_matrix_e6()
    v_e6 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
    )
    cols = []
    for j in range(_JL_OUT_DIM):
        dot = F.aggregate(
            F.zip_with(
                v_e6,
                # one py4j call for the whole 64-element literal row
                # (per-element F.lit cost ~45ms/row of driver wall —
                # see similarity.long_array_literal)
                long_array_literal([int(wjd) for wjd in w[j]]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cols.append(dot.alias(f"p{j}"))
    return emb.select("vec_id", *cols)


def _jl_oracle_sql() -> str:
    w = _jl_matrix_e6()
    projs = ",\n       ".join(
        "("
        + " + ".join(
            f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * 1000000 + 0.5) "
            f"AS BIGINT) * ({w[j][d]})"
            for d in range(_JL_IN_DIM)
        )
        + f") AS p{j}"
        for j in range(_JL_OUT_DIM)
    )
    return f"SELECT vec_id,\n       {projs}\nFROM embeddings"


EMBEDDING_JL_SQL = _jl_oracle_sql()


# ---------------------------------------------------------------------------
# ANN via JL-projected candidates + exact re-rank
# ---------------------------------------------------------------------------

_JL_ANN_CANDIDATES = 30


def ann_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 cosine through the JL width-reduction path
    the projection entry advertises: candidates are the 30 nearest
    neighbors in the 8-d PROJECTED integer space (L2² of micro-unit
    projections, integer-div-scaled so squares stay within int64), then
    an exact 64-d cosine re-rank keeps the top 10. Every stage is
    engine-reproducible — the oracle replays projection, candidate
    ranking, and re-rank bit-for-bit, certifying the approximate
    algorithm itself (the ann_lsh/ivf/pq precedent).

    Scale: candidate generation scans 8 longs per row instead of 64
    floats (the point of JL at 100 TB); queries broadcast both stages;
    only candidate rows pay the full-width cosine.
    """
    proj = embedding_jl_projection(spark, sf_dir)
    # scale down before squaring: |p| ≤ 64·1e6·1e6 = 6.4e13 → diff²
    # would overflow; after div 1e6, Σ of 8 squares ≤ ~1.3e17 < 2^63
    # `div`, not double-divide-and-cast: DuckDB's CAST(x/1e6) ROUNDS
    # while `//` truncates toward zero exactly like Spark's `div`
    pd_cols = [F.expr(f"p{j} div 1000000").alias(f"s{j}")
               for j in range(_JL_OUT_DIM)]
    cs = proj.select(F.col("vec_id"), *pd_cols)
    qs = cs.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"s{j}").alias(f"q{j}") for j in range(_JL_OUT_DIM)],
    )
    d2 = None
    for j in range(_JL_OUT_DIM):
        term = (F.col(f"s{j}") - F.col(f"q{j}")) * (F.col(f"s{j}") - F.col(f"q{j}"))
        d2 = term if d2 is None else d2 + term
    cand = top_k(
        cs.join(F.broadcast(qs)).select("query_id", "vec_id", d2.alias("approx_d2")),
        "query_id",
        [F.col("approx_d2").asc(), F.col("vec_id").asc()],
        _JL_ANN_CANDIDATES,
        "crank",
    ).select("query_id", "vec_id")
    emb = _t(spark, sf_dir, "embeddings")
    full = emb.select(
        "vec_id", F.col("embedding").alias("cv"), l2_norm_col("embedding").alias("cn")
    )
    qfull = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm_col("embedding").alias("qn"),
    )
    return cosine_top_k(
        cand.join(full, "vec_id").join(F.broadcast(qfull), "query_id"),
        "vec_id",
        10,
        round_to=6,
    )


def _jl_ann_oracle_sql() -> str:
    w = _jl_matrix_e6()

    def proj_expr(j: int) -> str:
        return (
            "("
            + " + ".join(
                f"CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * 1000000 + 0.5)"
                f" AS BIGINT) * ({w[j][d]})"
                for d in range(_JL_IN_DIM)
            )
            + ")"
        )

    projs = ",\n         ".join(
        # `//` truncates toward zero on integers, same as Spark `div`
        # (CAST(x/1e6 AS BIGINT) would ROUND — measured divergence)
        f"{proj_expr(j)} // 1000000 AS s{j}"
        for j in range(_JL_OUT_DIM)
    )
    d2 = " + ".join(
        f"(c.s{j} - q.s{j}) * (c.s{j} - q.s{j})" for j in range(_JL_OUT_DIM)
    )
    return f"""
WITH sp AS (
  SELECT vec_id,
         {projs}
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, * EXCLUDE (vec_id) FROM sp WHERE vec_id % 50 = 0
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {d2} ASC, c.vec_id ASC) AS crank
    FROM sp c CROSS JOIN q
  ) WHERE crank <= {_JL_ANN_CANDIDATES}
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS cosine
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN embeddings qe ON qe.vec_id = cand.query_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


ANN_JL_SQL = _jl_ann_oracle_sql()


# ---------------------------------------------------------------------------
# ANN serving with a bucketed LSH index (zero-Exchange candidate
# generation — the bucketed layout's third family)
# ---------------------------------------------------------------------------

_ALSHBK_PLANES = 8
_ALSHBK_DIM = 64
_ALSHBK_K = 10


def _alshbk_probe_masks() -> list[int]:
    """Multi-probe mask set (home bucket + 1-bit + 2-bit flips) —
    shared by the Spark staging plan and the oracle generator."""
    masks = [0] + [1 << b for b in range(_ALSHBK_PLANES)]
    masks += [
        (1 << b1) | (1 << b2)
        for b1 in range(_ALSHBK_PLANES)
        for b2 in range(b1 + 1, _ALSHBK_PLANES)
    ]
    return masks


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING against a persisted, bucketed LSH index — the
    zero-Exchange bucketed layout's third family, carried from exact
    dedup (`dedup_incremental_bucketed`) and near-dup index maintenance
    (`dedup_minhash_bucketed`) to similarity search (reference contract
    D1's hash-indexed layout generalized, src/sink.rs:75-103).

    At 100 TB the vector corpus is the table you keep: it is staged
    ONCE as an 8-bucket table on the hyperplane-LSH bucket id (md5
    literal planes — fixed_hyperplanes — so the oracle reproduces every
    bucket bit-for-bit), and each day's query batch is staged
    probe-EXPANDED (home bucket + 37-way multi-probe) on the same
    bucket spec. Candidate generation — the join that touches the
    100-TB side — then plans as a bucket-aligned sort-merge join with
    ZERO shuffle Exchanges (``bucketed_join``); the only Exchange in the
    whole top-k plan is the final re-rank, keyed on query_id and
    priced on CANDIDATES only (the entry's plan pin holds exactly one).
    The corpus is never re-shuffled, per batch or ever.

    Output and oracle match `ann_lsh_topk` (exact equality on the
    approximate algorithm itself): per query the top-10 by cosine
    (rounded to 6 before ranking; vec_id tiebreak) among corpus rows
    in any probed bucket. Corpus = even vec_ids; the daily query batch
    = vec_id % 50 == 25 (disjoint, so serving never self-matches).

    Staging is idempotent (`ensure_bucketed_table`): repeated runs
    measure the PROBE — the actual serving workload."""
    import re

    from archive_to_parquet_spark.operators.similarity import (
        hyperplane_bucket_literal,
    )
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    planes = fixed_hyperplanes(_ALSHBK_PLANES, _ALSHBK_DIM)
    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    ti, tb = f"alshbk_idx_{suffix}", f"alshbk_q_{suffix}"
    stage = _stage_dir("annlshbucketed", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    fp = ["alshbk-v1", _input_fingerprint(f"{sf_dir}/embeddings.parquet")]
    ensure_bucketed_table(
        spark, ti, os.path.join(stage, "idx"), "bucket", 8,
        lambda: emb.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id",
            F.col("embedding").alias("cv"),
            l2_norm_col("embedding").alias("cn"),
            hyperplane_bucket_literal("embedding", planes).alias("bucket"),
        ),
        fp,
    )
    masks = _alshbk_probe_masks()
    ensure_bucketed_table(
        spark, tb, os.path.join(stage, "q"), "bucket", 8,
        # probe expansion happens at STAGING: each query row fans out to
        # its 37 probe buckets (all masks distinct → no dedup needed),
        # so the serving join reads pre-bucketed probe rows
        lambda: emb.filter(F.col("vec_id") % 50 == 25)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm_col("embedding").alias("qn"),
            hyperplane_bucket_literal("embedding", planes).alias("b0"),
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.explode(
                F.array(*[F.col("b0").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        ),
        fp,
    )

    # the join that touches the corpus side moves no rows at all; the
    # whole top-k pays exactly ONE exchange, on candidates only
    return cosine_top_k(
        bucketed_join(spark, tb, ti, "bucket"), "vec_id", _ALSHBK_K, round_to=6
    )


def _alshbk_sql_planes():
    """(plane_cols_sql, bucket_expr_fn) for the md5-literal-plane LSH —
    shared by every oracle that reproduces the bucket assignment."""
    planes = fixed_hyperplanes(_ALSHBK_PLANES, _ALSHBK_DIM)
    plane_cols = ",\n         ".join(
        "[" + ", ".join(repr(x) for x in pl) + "]::DOUBLE[] AS p" + str(p)
        for p, pl in enumerate(planes)
    )

    def bucket(v: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({v}::DOUBLE[], p{p}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(_ALSHBK_PLANES)
        )

    return plane_cols, bucket


def _ann_lshbk_oracle_sql() -> str:
    """DuckDB twin of the bucketed-LSH serving path: same literal
    planes, same 37-mask probe expansion, same rounded-cosine re-rank —
    corpus restricted to even vec_ids, queries to vec_id % 50 == 25."""
    plane_cols, bucket = _alshbk_sql_planes()
    mask_list = ", ".join(str(m) for m in _alshbk_probe_masks())
    return f"""
WITH planes AS (
  SELECT {plane_cols}
), c AS (
  SELECT vec_id, embedding, {bucket('embedding')} AS bucket
  FROM embeddings CROSS JOIN planes
  WHERE vec_id % 2 = 0
), q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, {bucket('embedding')} AS b0
  FROM embeddings CROSS JOIN planes
  WHERE vec_id % 50 = 25
), probes AS (
  SELECT DISTINCT query_id, CAST(xor(b0::BIGINT, mask::BIGINT) AS INT) AS bucket
  FROM q0 CROSS JOIN (SELECT unnest([{mask_list}]) AS mask) m
), scored AS (
  SELECT p.query_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q0.qv::DOUBLE[]), 6) AS cosine
  FROM probes p
  JOIN c ON c.bucket = p.bucket
  JOIN q0 ON q0.query_id = p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_ALSHBK_K}
"""


ANN_LSH_BUCKETED_SQL = _ann_lshbk_oracle_sql()


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ embedding cosine via reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_HYB_DEPTH = 20  # per-system candidate depth feeding the fusion
_HYB_OUT = 10  # fused results returned per query
_HYB_QTERMS = 5  # lexical query = the example doc's top-5 TF terms


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid query-by-example retrieval: every 100th document queries
    the corpus through BM25 (its top-5 TF terms) AND embedding cosine
    (its own vector), the two top-20 lists fuse by reciprocal rank
    (score = Σ 1/(60+rank)), fused top-10 returned. Self-hits are
    excluded from both legs. Reference contract: the query surface of
    §2.12 generalized to ranked retrieval; BM25 leg shares
    ``search_bm25``'s certified construction (k1=1.2, b=0.75, rounded
    score, doc_id tie-break), the semantic leg ``ann_cosine_topk``'s.

    Why ranks, not scores: BM25 logs and cosine live on incomparable
    scales; RRF is scale-free, needs no calibration pass, and its
    fused score is a two-term double sum with a FIXED addend order —
    exact across engines, no float-summation-order risk.

    Scale shape: term stats (tf/dl/df) are one map-side-combinable
    shuffle each; query terms and df are broadcast, so the only
    corpus-keyed join carries matched-term rows only. The semantic leg
    broadcasts the query vectors across one corpus scan. Both legs cut
    to top-20 per query BEFORE the fusion join, so the full-outer
    fusion moves ≤ 40 rows per query regardless of corpus size. At
    1000 executors each leg is embarrassingly parallel and the fusion
    is a driver-sized afterthought."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    # --- lexical leg: BM25 with per-example-doc top-5 TF query terms
    tokens = docs.select(
        "doc_id",
        F.explode(terms_col("text")).alias("term"),
    )
    # the inverted index feeds FOUR consumers here (query-term top-5,
    # doc lengths, document frequencies, scoring) — materialize it once
    # partitioned on doc_id (same shape as search_bm25's r9 staging)
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_partitioned,
    )

    tf = checkpoint_partitioned(
        tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf")),
        "doc_id",
    )
    qdocs = docs.filter(F.col("doc_id") % 100 == 50).select("doc_id")
    qterms = top_k(
        tf.join(F.broadcast(qdocs), "doc_id"),
        "doc_id",
        [F.col("tf").desc(), F.col("term").asc()],
        _HYB_QTERMS,
        "rn",
    ).select(F.col("doc_id").alias("query_id"), "term")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_counts = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    lex_scored = _bm25_scores(
        tf.join(F.broadcast(qterms), "term").filter(
            F.col("doc_id") != F.col("query_id")
        ),
        df_counts,
        dl,
    )
    lex = top_k(
        lex_scored,
        "query_id",
        [F.col("score").desc(), F.col("doc_id").asc()],
        _HYB_DEPTH,
        "rank_lex",
    ).select("query_id", "doc_id", "rank_lex")

    # --- semantic leg: broadcast query vectors × one corpus scan
    q = emb.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm_col("embedding").alias("qn"),
    )
    c = emb.select(
        "vec_id",
        F.col("embedding").alias("cv"),
        l2_norm_col("embedding").alias("cn"),
    )
    sem = cosine_top_k(
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")),
        "vec_id",
        _HYB_DEPTH,
        rank="rank_sem",
        round_to=6,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank_sem")

    # --- reciprocal-rank fusion over the two ≤20-deep lists
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.when(
            F.col("rank_lex").isNotNull() & F.col("rank_sem").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("rank_lex").isNotNull(), F.lit("lex"))
        .otherwise(F.lit("sem"))
        .alias("src"),
    )
    return (
        top_k(
            fused,
            "query_id",
            [F.col("rrf_score").desc(), F.col("doc_id").asc()],
            _HYB_OUT,
            "rank",
        ).select(
            "query_id",
            "doc_id",
            "rrf_score",
            F.col("rank").cast("int").alias("rank"),
            "src",
        )
    )


SEARCH_HYBRID_RRF_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
qterms AS (
  SELECT doc_id AS query_id, term FROM (
    SELECT tf.doc_id, tf.term,
           ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf DESC, tf.term ASC) AS rn
    FROM tf JOIN (SELECT doc_id FROM documents WHERE doc_id % 100 = 50) qd
      USING (doc_id)
  ) WHERE rn <= 5
),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
df AS (
  SELECT term, COUNT(*) AS df
  FROM tf JOIN (SELECT DISTINCT term FROM qterms) qt USING (term)
  GROUP BY 1
),
lex_scored AS (
  SELECT q.query_id, tf.doc_id,
         round(SUM(ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))),
               4) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  WHERE tf.doc_id <> q.query_id
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id, rank_lex FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rank_lex
    FROM lex_scored
  ) WHERE rank_lex <= 20
),
sem_scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings e
  JOIN embeddings q ON q.vec_id % 100 = 50 AND e.vec_id <> q.vec_id
),
sem AS (
  SELECT query_id, doc_id, rank_sem FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id ASC) AS rank_sem
    FROM sem_scored
  ) WHERE rank_sem <= 20
),
fused AS (
  SELECT query_id, doc_id,
         round(COALESCE(1.0 / (60 + rank_lex), 0)
               + COALESCE(1.0 / (60 + rank_sem), 0), 6) AS rrf_score,
         CASE WHEN rank_lex IS NOT NULL AND rank_sem IS NOT NULL THEN 'both'
              WHEN rank_lex IS NOT NULL THEN 'lex'
              ELSE 'sem' END AS src
  FROM lex FULL OUTER JOIN sem USING (query_id, doc_id)
)
SELECT query_id, doc_id, rrf_score, CAST(rank AS INT) AS rank, src
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Mean Reciprocal Rank of the BM25 retriever
# ---------------------------------------------------------------------------

def eval_mrr_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 of the BM25 retriever — the other standard retrieval
    readout next to ``eval_ndcg_bm25``: per query, the reciprocal of
    the FIRST relevant rank in the top-10 (0.0 when none), under the
    same deterministic relevance rule (a document is relevant iff it
    contains EVERY query term).  Reciprocals 1/k for k ≤ 10 never land
    on a 6dp rounding tie, so the rounded value is engine-identical.

    Scale shape: rankings come from ``search_bm25``'s staged inverted
    index (one corpus tokenize, materialized on doc_id); relevance is
    one corpus scan against the broadcast term list; the readout joins
    a 30-row ranking with the relevance set and folds to one row per
    query."""

    docs = _t(spark, sf_dir, "documents")
    ranked = search_bm25(spark, sf_dir)
    # one narrow projection against the literal query list (r11, guide
    # §2.3/§3.3: replaces a docs×terms BNLJ + per-pair re-aggregation)
    rel = _bm25_relevance(docs)
    first_rel = (
        ranked.join(rel, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rel_rank"))
    )
    qids = spark.createDataFrame(
        [(qid,) for qid, _ in _BM25_QUERIES], "query_id string"
    )
    return qids.join(first_rel, "query_id", "left").select(
        "query_id",
        F.coalesce("first_rel_rank", F.lit(0))
        .cast("int")
        .alias("first_rel_rank"),
        F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
        .otherwise(F.round(1.0 / F.col("first_rel_rank"), 6))
        .alias("rr"),
    )


def _mrr_oracle_sql() -> str:

    terms = ", ".join(
        "('{qid}', '{t}', {n})".format(qid=qid, t=t, n=len(ts))
        for qid, ts in _BM25_QUERIES
        for t in ts
    )
    qids = ", ".join("('{qid}')".format(qid=qid) for qid, _ in _BM25_QUERIES)
    return f"""
WITH ranked AS ({SEARCH_BM25_SQL}),
q(query_id, term, n_terms) AS (VALUES {terms}),
qids(query_id) AS (VALUES {qids}),
rel AS (
  SELECT q.query_id, d.doc_id
  FROM documents d CROSS JOIN q
  WHERE contains(lower(d.text), q.term)
  GROUP BY q.query_id, d.doc_id, q.n_terms
  HAVING COUNT(*) = q.n_terms
),
first_rel AS (
  SELECT r.query_id, MIN(r.rank) AS first_rel_rank
  FROM ranked r JOIN rel USING (query_id, doc_id)
  GROUP BY r.query_id
)
SELECT qids.query_id,
       CAST(COALESCE(f.first_rel_rank, 0) AS INT) AS first_rel_rank,
       CASE WHEN f.first_rel_rank IS NULL THEN 0.0
            ELSE round(1.0 / f.first_rel_rank, 6) END AS rr
FROM qids LEFT JOIN first_rel f USING (query_id)
"""


ENTRIES = {
    "embedding_quantize": (embedding_quantize, EMBEDDING_QUANTIZE_SQL),
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "search_bm25": (search_bm25, SEARCH_BM25_SQL),
    "mine_hard_negatives": (mine_hard_negatives, MINE_HARD_NEGATIVES_SQL),
    "ann_pq_topk": (ann_pq_topk, ANN_PQ_SQL),
    "ann_ivf_pq_topk": (ann_ivf_pq_topk, ANN_IVF_PQ_SQL),
    "cluster_kmeans": (cluster_kmeans, _kmeans_oracle_sql()),
    "decontaminate_semantic": (decontaminate_semantic, DECONTAMINATE_SEMANTIC_SQL),
    "cluster_dbscan": (cluster_dbscan, CLUSTER_DBSCAN_SQL),
    # Same closed-form oracle: the LSH path must reproduce the exact
    # baseline's labeling bit-for-bit (recall verified 100% at every SF).
    "cluster_dbscan_lsh": (cluster_dbscan_lsh, CLUSTER_DBSCAN_SQL),
    "search_index_probe": (search_index_probe, SEARCH_BM25_SQL),
    "eval_ndcg_bm25": (eval_ndcg_bm25, _ndcg_oracle_sql()),
    "embedding_jl_projection": (embedding_jl_projection, EMBEDDING_JL_SQL),
    "ann_jl_topk": (ann_jl_topk, ANN_JL_SQL),
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_LSH_BUCKETED_SQL),
    "search_hybrid_rrf": (search_hybrid_rrf, SEARCH_HYBRID_RRF_SQL),
    "eval_mrr_bm25": (eval_mrr_bm25, _mrr_oracle_sql()),
}
