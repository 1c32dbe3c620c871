"""Dedup family: exact, near-duplicate (n-gram Jaccard, containment,
MinHash, SimHash, embedding LSH, SemDeDup), substring, content-defined
chunking and incremental/bucketed dedup. The approximate entries are
oracle-checkable by construction: hash material is engine-independent
and candidates are confirmed with exact math, so DuckDB reproduces
each result bit-for-bit.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.web import canonicalize_url
from archive_to_parquet_spark.operators.dedup import (
    _SFX_LEN,
    _SFX_MIN,
    _SFX_SQL_PRELUDE,
    _SFX_SQL_WHERE,
    _suffix_rows,
    embedding_near_duplicates,
    minhash_near_duplicates_confirmed,
    simhash_near_duplicates,
)
from archive_to_parquet_spark.operators.similarity import fixed_hyperplanes
from archive_to_parquet_spark.queries.relational import _stage_dir, _t


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic winner: min doc_id per content hash."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("hash_hex"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dupes"))
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS hash_hex, MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
FROM documents GROUP BY 1
"""


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span removal: aligned 6-word chunks,
    first occurrence (min (doc_id, position)) survives, documents
    reassembled from surviving chunks (operators/dedup.py
    dedup_chunk_spans — shuffle on chunk then id, no doc×doc work)."""
    from archive_to_parquet_spark.operators.dedup import dedup_chunk_spans

    docs = _t(spark, sf_dir, "documents")
    return dedup_chunk_spans(docs, "doc_id", "text", chunk_words=6)


DEDUP_SPAN_REMOVAL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS words
  FROM documents
), c AS (
  SELECT doc_id, i AS idx,
         array_to_string(words[(i*6+1):(i*6+6)], ' ') AS chunk
  FROM w, LATERAL unnest(generate_series(0,
         CAST(ceil(len(words) / 6.0) AS INT) - 1)) AS t(i)
), ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM c
), kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
  FROM ranked WHERE rn = 1
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(ceil(len(w.words) / 6.0) AS INT) AS n_chunks,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.text_dedup, '') AS text_dedup
FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 via inverted shingle index
    (no all-pairs compare; shuffle key = shingle)."""
    from archive_to_parquet_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


DEDUP_NGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric doc-in-doc detection: shingle containment C(a→b) =
    |S(a)∩S(b)|/|S(a)| ≥ 0.9 via the asymmetric prefix-filtered
    inverted index (operators/dedup.containment_pairs) — the extract/
    quote/boilerplate-wrap case symmetric Jaccard misses. Containment
    pairs are PLANTED deterministically: every 40th document gets a
    prefix-extract twin (its first 30 normalized words, doc_id +
    3000000) whose shingle set is contained in the original's by
    construction, so recall of the planted pairs is structural; the
    oracle computes the same construction + exact containment brute-
    force over the inverted index. Integer ppm scores — no float."""
    from archive_to_parquet_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    planted = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
        F.array_join(F.slice(F.split(norm, " "), 1, 30), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    # round 12 (guide §2.4/§7): the deterministic-output orderBy plans
    # a RANGE exchange whose bounds-sampling pass re-executes its
    # child — here the whole fused candidate-join + array_intersect
    # confirm ran TWICE per execution (the r12 profile's twin stages,
    # one writing nothing). Materializing the confirmed pairs (the
    # tiny filtered result, 67 rows at sf0.1) right below the sort
    # makes the sampler read blocks instead of recomputing the confirm.
    confirmed = containment_pairs(
        corpus, "doc_id", "text", shingle_n=3, threshold=0.9
    ).localCheckpoint()
    return confirmed.orderBy("id_sub", "id_sup")


DEDUP_CONTAINMENT_SQL = r"""
WITH base AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
), corpus AS (
  SELECT doc_id, t FROM base
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string((string_split(t, ' '))[1:30], ' ')
  FROM base WHERE doc_id % 40 = 0
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM corpus
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_sup, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_sub, id_sup,
       CAST(shared * 1000000 // sa.n AS BIGINT) AS containment_ppm
FROM shared
JOIN sizes sa ON id_sub = sa.doc_id
WHERE shared * 1000000 // sa.n >= 900000
ORDER BY id_sub, id_sup
"""


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs confirmed by exact Jaccard.

    The Spark plan is the approximate one — 32 minhashes, 8 LSH bands,
    band-bucket self-join — but every candidate is verified with true
    Jaccard, so the output is provably a subset of the exact pair set.
    The oracle computes the exact pair set independently (inverted
    index, no LSH); equality therefore checks LSH RECALL = 1.0 on this
    corpus (every true pair ≥ 0.5 collides in at least one band —
    deterministic, since minhashes are seeded xxhash64), not just shape.
    """
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates_confirmed(
        docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 64-bit signatures).

    Oracle-checked bit-for-bit: the signature is md5-nibble bit voting
    (engine-independent), and for max_hamming=3 < 4 chunk tables the
    pigeonhole bucketing is EXACT — so DuckDB's brute-force all-pairs
    twin must produce the identical pair set with identical distances.
    """
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3)


def _simhash_oracle_sql(max_hamming: int = 3, num_chunks: int = 4) -> str:
    """Generated DuckDB twin of the JVM md5 SimHash: same shingles, same
    md5 hi/lo-half bit votes, same chunk assembly — but brute-force
    all-pairs instead of pigeonhole buckets (exactness of the pigeonhole
    candidate generation is exactly what the equality then proves)."""
    chunk_bits = 64 // num_chunks

    def half_bit(b: int) -> str:
        start = 9 if b < 32 else 1  # chars 9-16 = low half, 1-8 = high
        return f"(('0x' || substr(h, {start}, 8))::BIGINT >> {b % 32}) & 1"

    votes = ",\n         ".join(
        f"SUM(CASE WHEN {half_bit(b)} = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(64)
    )
    chunks = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN v_{t * chunk_bits + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(chunk_bits)
        )
        + f" AS INT) AS c_{t}"
        for t in range(num_chunks)
    )
    ham = " + ".join(
        f"bit_count(xor(a.c_{t}::BIGINT, b.c_{t}::BIGINT))" for t in range(num_chunks)
    )
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         [array_to_string(words[i:i+2], ' ')
          for i in generate_series(1, greatest(len(words) - 2, 1))] AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), hx AS (
  SELECT doc_id, md5(g) AS h FROM e
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hx GROUP BY doc_id
), sig AS (
  SELECT doc_id,
         {chunks}
  FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


DEDUP_SIMHASH_SQL = _simhash_oracle_sql()


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane LSH.

    The synthetic embeddings have no natural near-dups (max pairwise
    cosine ≈0.51), so the query plants them deterministically: every
    50th vector is unioned back under ``vec_id + 1000000``. Identical
    vectors ALWAYS share an LSH bucket (same input → same sign bits), so
    at threshold 0.99 recall is structural, and the oracle's brute-force
    all-pairs-cosine twin must match exactly — checking the bucketing,
    the in-bucket exact re-rank, and the cosine math in one go.
    """
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = embedding_near_duplicates(
        corpus, fixed_hyperplanes(8, 64), threshold=0.99
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


DEDUP_EMBEDDING_LSH_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.99
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over embeddings: deterministic coarse quantizer (every
    31st vector is a centroid), nearest-centroid cluster assignment,
    in-cluster exact cosine, drop-if-a-smaller-id-neighbor-is-≥0.99
    (operators/dedup.py semantic_dedup). Duplicates are planted (every
    50th vector re-added under id+1000000); an identical vector gets
    identical centroid distances, hence the same cluster — so recall is
    structural and DuckDB's brute-force twin must match every keep/drop
    decision."""
    from archive_to_parquet_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    cent = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    return semantic_dedup(corpus, cent, threshold=0.99, round_to=6)


DEDUP_SEMANTIC_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
), cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM corpus e CROSS JOIN cent c
  ) WHERE rn = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99
)
SELECT a.vec_id, a.bucket,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidates → exact-Jaccard-confirmed
    pairs → connected components → one representative per cluster.

    With exact confirmation the pair graph IS the exact-Jaccard graph,
    so the whole iterative components result is checkable against a
    recursive-CTE transitive closure in DuckDB (components = min
    reachable id; representatives = the component's min id)."""
    from archive_to_parquet_spark.operators.dedup import near_duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    labeled = near_duplicate_clusters(
        docs, "doc_id", "text", jaccard_threshold=0.5,
        num_hashes=32, bands=8,
    )
    return labeled.select(
        F.col("id").alias("doc_id"),
        "component",
        F.col("is_representative").cast("int").alias("is_rep"),
    )


# Exact-Jaccard pair graph (same machinery as DEDUP_NGRAM_SQL) → edges →
# transitive closure via recursive CTE → component = min reachable id.
DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
), comp AS (
  SELECT s AS id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT doc.doc_id AS doc_id,
       COALESCE(c.component, doc.doc_id) AS component,
       CAST(CASE WHEN COALESCE(c.component, doc.doc_id) = doc.doc_id
                 THEN 1 ELSE 0 END AS INT) AS is_rep
FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
"""


_LSPLIT_THRESH_U32 = 3435973836  # floor(0.8 · 2^32): 80/20 split


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: near-duplicate clusters
    (MinHash LSH candidates, exact-Jaccard confirmed, connected
    components — the ``dedup_near_clusters`` machinery) are assigned
    to a split AS A UNIT by hashing the component id, so a document
    and its near-duplicates can never straddle the train/heldout
    boundary — the eval-contamination path that per-document random
    splits leave open even after deduplication (the heldout copy of a
    kept train document is still a leak). Split membership is
    md5('lsplit' || component) truncated to 32 bits vs a literal 80%
    threshold: deterministic, engine-independent, and stable under
    corpus repartitioning (same property as ``sample_split``, lifted
    from document grain to cluster grain).

    Returns (doc_id, component, split) for every document.

    Scale: adds only per-row column expressions on top of the cluster
    labeling (LSH band join + connected components — see
    ``near_duplicate_clusters``); the split step itself is
    shuffle-free.
    """
    from archive_to_parquet_spark.operators.dedup import (
        near_duplicate_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = near_duplicate_clusters(
        docs, "doc_id", "text", jaccard_threshold=0.5,
        num_hashes=32, bands=8,
    )
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("lsplit"), F.col("component").cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return labeled.select(
        F.col("id").alias("doc_id"),
        "component",
        F.when(u32 < _LSPLIT_THRESH_U32, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


# The cluster labeling is DEDUP_CLUSTERS_SQL verbatim (nested CTE);
# the split is a pure expression over the component id.
SPLIT_LEAKAGE_SQL = f"""
WITH base AS ({DEDUP_CLUSTERS_SQL})
SELECT doc_id, component,
       CASE WHEN ('0x' || substr(md5('lsplit' || CAST(component AS VARCHAR)),
                                 1, 8))::BIGINT < {_LSPLIT_THRESH_U32}
            THEN 'train' ELSE 'heldout' END AS split
FROM base
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: odd doc_ids (the 'ingest batch') probe a
    MinHash band index built from even doc_ids (the 'existing corpus'),
    candidates confirmed by exact Jaccard — corpus text is only touched
    for the confirmed candidates, never rescanned for banding. Same
    recall-by-construction argument as dedup_minhash: every true pair
    collides in ≥1 of the 8 bands on this corpus, so the output equals
    the exact cross-partition Jaccard pair set the oracle computes."""
    from archive_to_parquet_spark.operators.candidates import exact_jaccard
    from archive_to_parquet_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        shingle_sets,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = minhash_band_index(corpus)
    candidates, _new_index = dedup_against_index(
        batch, index, jaccard_threshold=0.0
    )
    sh = shingle_sets(docs, "doc_id", "text", 3)
    pairs = candidates.select(
        F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
    )
    return (
        exact_jaccard(pairs, sh, 0.5)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("index_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


DEDUP_INCREMENTAL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS new_id, b.doc_id AS index_id, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT new_id, index_id,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON new_id = sa.doc_id
JOIN sizes sb ON index_id = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
"""


# ---------------------------------------------------------------------------
# URL-level dedup with canonicalization
# ---------------------------------------------------------------------------

def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup after canonicalization — the cheapest dedup
    stage in a crawl pipeline (runs before any content hashing): strip
    tracking params / fragments / case / default ports / trailing
    slashes, then group by the canonical URL.

    Messy variants are built deterministically per document (uppercased
    scheme+host with an explicit :443, trailing slash + fragment,
    tracking-only query string, or already-canonical), and
    ``canonicalize_url`` — a generic parse_url/regexp/higher-order
    chain, not tuned to this construction — must collapse all four
    variants of the same page to one key. The oracle states the
    closed-form canonical URL the construction implies.

    Scale: per-row JVM expressions + ONE shuffle on the canonical key
    with map-side partial aggregation. No UDF, no second pass.
    """
    docs = _t(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 7).cast("string")
    canon = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/page/"), page)
    messy = (
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("HTTPS://"),
                F.upper("source"),
                F.lit(".EXAMPLE.COM:443/page/"),
                page,
                F.lit("?utm_source=feed&utm_medium=rss"),
            ),
        )
        .when(F.col("doc_id") % 4 == 2, F.concat(canon, F.lit("/#section-2")))
        .when(F.col("doc_id") % 4 == 3, F.concat(canon, F.lit("?gclid=abc123#top")))
        .otherwise(canon)
    )
    return (
        docs.select("doc_id", canonicalize_url(messy).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


DEDUP_URL_SQL = """
SELECT 'https://' || source || '.example.com/page/' || CAST(doc_id % 7 AS VARCHAR)
         AS canonical_url,
       COUNT(*) AS n_dups,
       MIN(doc_id) AS keep_id
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership probe
# ---------------------------------------------------------------------------

_BLOOM_BITS = 65536
_BLOOM_K = 3


def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup front-line — thin wrapper over
    ``operators.dedup.bloom_filter_bits`` / ``bloom_probe``: even
    doc_ids form the indexed corpus (k=3 md5-derived bits in an
    m=65536 filter), odd doc_ids probe it. ``exact_dup`` (a real
    left-semi against the corpus) is emitted next to ``bloom_hit``, so
    the result certifies the filter contract — no false negatives,
    false positives visible rather than hidden. m=65536/k=3 keeps the
    fill factor ~11% at sf0.1 (FP ≈ 0.1%); at larger corpora m grows
    with the indexed count to hold that rate.

    Scale: the filter is O(m) regardless of corpus size — built with
    one map-side-combinable distinct over bit positions and BROADCAST
    to the probe side; the probe never touches the corpus. This is the
    cheap first tier in front of the exact/minhash index
    (dedup_incremental) at 100 TB.
    """
    from archive_to_parquet_spark.operators.dedup import (
        bloom_filter_bits,
        bloom_probe,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)

    bits = bloom_filter_bits(
        corpus, "text", num_bits=_BLOOM_BITS, num_hashes=_BLOOM_K
    )
    hits = bloom_probe(
        probes, bits, "doc_id", "text", num_bits=_BLOOM_BITS, num_hashes=_BLOOM_K
    )
    exact = probes.join(
        corpus.select(F.col("text").alias("t")).distinct(),
        probes["text"] == F.col("t"),
        "left_semi",
    ).select("doc_id", F.lit(True).alias("exact_dup"))
    return hits.join(exact, "doc_id", "left").select(
        "doc_id",
        "bloom_hit",
        F.coalesce(F.col("exact_dup"), F.lit(False)).alias("exact_dup"),
    )


DEDUP_BLOOM_SQL = f"""
WITH pos AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_corpus, text,
         (('0x' || substr(md5(text), 1, 8))::BIGINT) % {_BLOOM_BITS} AS pos0,
         (('0x' || substr(md5(text), 9, 8))::BIGINT) % {_BLOOM_BITS} AS pos1,
         (('0x' || substr(md5(text), 17, 8))::BIGINT) % {_BLOOM_BITS} AS pos2
  FROM documents
), bits AS (
  SELECT DISTINCT bit FROM (
    SELECT unnest([pos0, pos1, pos2]) AS bit FROM pos WHERE is_corpus
  )
), probe_bits AS (
  SELECT doc_id, unnest([pos0, pos1, pos2]) AS bit FROM pos WHERE NOT is_corpus
), hits AS (
  SELECT doc_id, COUNT(*) AS n_set
  FROM probe_bits JOIN bits USING (bit)
  GROUP BY doc_id
)
SELECT p.doc_id,
       COALESCE(h.n_set, 0) = {_BLOOM_K} AS bloom_hit,
       EXISTS (SELECT 1 FROM pos c WHERE c.is_corpus AND c.text = p.text)
           AS exact_dup
FROM pos p LEFT JOIN hits h ON h.doc_id = p.doc_id
WHERE NOT p.is_corpus
"""


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. ExactSubstr): unaligned span removal
# ---------------------------------------------------------------------------

def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unaligned exact-substring dedup over documents (operators/
    dedup.py remove_duplicated_substrings — the per-position ExactSubstr
    counterpart of the chunk-aligned `dedup_span_removal`): every 8-word
    window occurring more than once corpus-wide is removed at all but
    its globally first (doc_id, position), overlapping windows merged
    into maximal spans, text rebuilt from the gaps. Corpus-linear: one
    shuffle on the window string, one on doc_id — no doc×doc stage."""
    from archive_to_parquet_spark.operators.dedup import (
        remove_duplicated_substrings,
    )

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicated_substrings(
        docs, "doc_id", "text", window_words=8
    )


DEDUP_SUBSTRING_EXACT_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS words
  FROM documents
), p AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(words[i:i+7], ' ') AS win
  FROM w, LATERAL unnest(generate_series(1, len(words) - 7)) AS t(i)
  WHERE len(words) >= 8
), m AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY win) AS c,
         row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
  FROM p
), losers AS (
  SELECT doc_id, pos, pos + 8 AS e FROM m WHERE c > 1 AND rn > 1
), flagged AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ns
  FROM losers
), g AS (
  SELECT doc_id, pos, e,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM flagged
), spans AS (
  SELECT doc_id, gid, min(pos) AS s, max(e) AS e
  FROM g GROUP BY doc_id, gid
), st AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
  FROM spans GROUP BY doc_id
), rem AS (
  SELECT doc_id, unnest(generate_series(s, e - 1)) AS idx FROM spans
), toks AS (
  SELECT doc_id, unnest(words) AS word,
         unnest(generate_series(0, len(words) - 1)) AS idx
  FROM w WHERE len(words) > 0
), keptw AS (
  SELECT t.doc_id, t.idx, t.word
  FROM toks t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.idx = r.idx
  WHERE r.doc_id IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text_clean
  FROM keptw GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.words) AS INT) AS n_words,
       CAST(coalesce(st.removed, 0) AS INT) AS removed_words,
       CAST(coalesce(st.n_spans, 0) AS INT) AS n_spans,
       coalesce(r.text_clean, '') AS text_clean
FROM w
LEFT JOIN st ON w.doc_id = st.doc_id
LEFT JOIN rebuilt r ON w.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# Content-defined chunking dedup: insertion-robust storage dedup
# ---------------------------------------------------------------------------


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup stats over documents (operators/
    dedup.py cdc_chunk_stats): boundaries declared by the md5 of a
    16-char sliding window (hex-prefix < '04' → expected ~64-char
    chunks), chunks deduplicated corpus-wide by content hash. The
    insertion-robust complement of `dedup_span_removal` (fixed-aligned)
    and `dedup_substring_exact` (word windows): a byte insertion
    re-aligns at the next content boundary instead of shifting every
    later chunk. Per doc: chunk count, duplicate chunks, duplicate
    chars."""
    from archive_to_parquet_spark.operators.dedup import cdc_chunk_stats

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunk_stats(
        docs, "doc_id", "text", window=16, boundary_hex_lt="04"
    )


DEDUP_CDC_CHUNKS_SQL = r"""
WITH d AS (SELECT doc_id, text AS s, length(text) AS n FROM documents),
b AS (
  SELECT doc_id, s, n,
         CASE WHEN n > 16 THEN [i for i in generate_series(16, n-1)
              if substring(md5(substring(s, i-15, 16)), 1, 2) < '04']
              ELSE [] END AS bounds
  FROM d
), c AS (
  SELECT doc_id, s, n,
         list_prepend(1, [b2 + 1 for b2 in bounds]) AS starts,
         list_append(bounds, n) AS ends
  FROM b WHERE n > 0
), e AS (
  SELECT doc_id, j - 1 AS idx,
         substring(s, starts[j], ends[j] - starts[j] + 1) AS chunk
  FROM c, LATERAL unnest(generate_series(1, len(starts))) AS t(j)
), m AS (
  SELECT doc_id, idx, length(chunk) AS clen,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM e
), agg AS (
  SELECT doc_id, count(*) AS n_chunks,
         sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS dup_chunks,
         sum(CASE WHEN rn > 1 THEN clen ELSE 0 END) AS dup_chars
  FROM m GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(agg.n_chunks, 0) AS INT) AS n_chunks,
       CAST(coalesce(dup_chunks, 0) AS INT) AS dup_chunks,
       CAST(coalesce(dup_chars, 0) AS INT) AS dup_chars
FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


# ---------------------------------------------------------------------------
# Gear-hash CDC (Arrow kernel): the binary throughput tier
# ---------------------------------------------------------------------------


def _gear_fixture_payload(d: int) -> bytes:
    """Deterministic binary fixture for doc_id ``d``: a ``d % 7``-byte
    filler prefix (shifts every byte position per doc), 256 bytes of
    doc-unique md5 stream, then a 512-byte SHARED md5 stream. Both
    engines can rebuild it independently (Spark: unhex/md5
    expressions; oracle: hashlib at import)."""
    import hashlib

    pre = b"\xaa" * (d % 7)
    own = b"".join(
        hashlib.md5(f"{d}:{j}".encode()).digest() for j in range(16)
    )
    shared = b"".join(
        hashlib.md5(f"shared:{j}".encode()).digest() for j in range(32)
    )
    return pre + own + shared


def _gear_oracle_sql() -> str:
    """Expected stats from the PURE-PYTHON scalar gear recurrence
    (operators/dedup.py gear_hash_boundaries) — independent of the
    vectorized Arrow kernel under test — baked as VALUES literals."""
    import hashlib

    from archive_to_parquet_spark.operators.dedup import (
        gear_hash_boundaries,
    )

    docs = {d: _gear_fixture_payload(d) for d in range(60)}
    occ: dict[str, list[tuple[int, int]]] = {}
    per_doc: dict[int, list[tuple[int, int, str]]] = {}
    for d in sorted(docs):
        data = docs[d]
        cuts = gear_hash_boundaries(data, mask_bits=6)
        starts, ends = [0] + cuts, cuts + [len(data)]
        rows = []
        for idx, (st, en) in enumerate(zip(starts, ends)):
            h = hashlib.md5(data[st:en]).hexdigest()
            rows.append((idx, en - st, h))
            occ.setdefault(h, []).append((d, idx))
        per_doc[d] = rows
    values = []
    for d, rows in per_doc.items():
        dup = dupb = 0
        for idx, clen, h in rows:
            if len(occ[h]) > 1 and min(occ[h]) != (d, idx):
                dup += 1
                dupb += clen
        values.append(f"({d}, {len(rows)}, {dup}, {dupb})")
    return (
        "SELECT CAST(c0 AS BIGINT) AS doc_id, CAST(c1 AS INT) AS n_chunks,\n"
        "       CAST(c2 AS INT) AS dup_chunks, CAST(c3 AS INT) AS dup_bytes\n"
        "FROM (VALUES " + ", ".join(values) + ") t(c0, c1, c2, c3)"
    )


def dedup_cdc_gear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Gear-hash CDC over BINARY payloads (operators/dedup.py
    gear_cdc_chunk_stats) — the vectorized Arrow-kernel throughput tier
    next to the SQL-expressible md5-window `dedup_cdc_chunks`. The
    fixture payloads carry a 512-byte shared region behind a per-doc
    0–6 byte filler, so every doc sees it at a DIFFERENT byte offset;
    the content-defined boundaries re-align and the region
    deduplicates anyway. Certified against a pure-Python scalar
    implementation of the same gear recurrence (VALUES oracle) —
    never against the numpy kernel under test."""
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 60
    )
    own = F.concat(
        *[
            F.unhex(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(f":{j}")
                    ).cast("binary")
                )
            )
            for j in range(16)
        ]
    )
    import hashlib as _hl

    shared_hex = "".join(
        _hl.md5(f"shared:{j}".encode()).hexdigest() for j in range(32)
    )
    payload = F.concat(
        F.unhex(F.repeat(F.lit("aa"), (F.col("doc_id") % 7).cast("int"))),
        own,
        F.unhex(F.lit(shared_hex)),
    )
    from archive_to_parquet_spark.operators.dedup import (
        gear_cdc_chunk_stats,
    )

    media = docs.select("doc_id", payload.alias("data"))
    return gear_cdc_chunk_stats(media, "doc_id", "data", mask_bits=6)


DEDUP_CDC_GEAR_SQL = _gear_oracle_sql()


def dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-scale incremental EXACT dedup with a co-bucketed
    layout (reference contract D1, src/sink.rs:75-103, scaled to a
    persistent corpus): the seen-hash index (even doc_ids → distinct
    sha256) and the daily ingest batch (odd doc_ids) are both written
    as 8-bucket tables on the hash, so the daily anti-join ("which
    documents are NEW?") AND the within-batch winner election
    (min doc_id per hash) plan as a bucket-aligned sort-merge join with
    ZERO shuffle Exchanges (``bucketed_join``; the entry's plan pin
    holds the count), so the oracle row certifies the values and the
    scale property together.

    This is `source_bucketed_join`'s pay-the-shuffle-once layout
    carried to the flagship dedup workload: at 100 TB the index is the
    table you keep for YEARS, and every daily batch pays one bucketed
    write instead of re-shuffling the index per probe; the probe plan
    is a per-bucket stream (SMJ LeftAnti over co-located sorted
    buckets + partial-free hash agg on the bucket key) that touches no
    wire. Emits (hash_hex, new_id, n_copies) per new unique document.

    Staging is idempotent (r7 verdict ask #4): the bucketed tables are
    written once per sf_dir and re-registered (catalog-only) on every
    later execution — in-session or in a fresh one — so repeated runs
    measure the PROBE, the actual daily workload, not the layout write
    the design exists to amortize."""
    import re

    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    ti, tb = f"incbk_idx_{suffix}", f"incbk_batch_{suffix}"
    stage = _stage_dir("incbucketed", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    fp = ["incbk-v2", _input_fingerprint(f"{sf_dir}/documents.parquet")]
    ensure_bucketed_table(
        spark, ti, os.path.join(stage, "idx"), "hash_hex", 8,
        lambda: (
            docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.sha2("text", 256).alias("hash_hex"))
            .distinct()  # the index stores unique hashes; shuffle paid ONCE
        ),
        fp,
    )
    ensure_bucketed_table(
        spark, tb, os.path.join(stage, "new"), "hash_hex", 8,
        lambda: docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", F.sha2("text", 256).alias("hash_hex")
        ),
        fp,
    )

    # anti-join AND winner election both ride the bucket spec: zero
    # Exchange anywhere in the probe plan
    return (
        bucketed_join(spark, tb, ti, "hash_hex", "left_anti")
        .groupBy("hash_hex")
        .agg(
            F.min("doc_id").alias("new_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_INCREMENTAL_BUCKETED_SQL = """
WITH idx AS (
  SELECT DISTINCT sha256(text) AS hash_hex
  FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, sha256(text) AS hash_hex
  FROM documents WHERE doc_id % 2 = 1
)
SELECT b.hash_hex,
       CAST(MIN(b.doc_id) AS BIGINT) AS new_id,
       COUNT(*) AS n_copies
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.hash_hex = b.hash_hex)
GROUP BY b.hash_hex
"""


_MHBK_HASHES = 8  # md5-derived minhashes per doc
_MHBK_BANDS = 4  # LSH bands (2 rows each)


def _mhbk_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band rows from md5-based
    minhash signatures — md5 (not xxhash64) so a DuckDB oracle
    reproduces every bucket key bit-for-bit: mh_i = min over distinct
    word-3-shingles of the 60-bit prefix of md5(shingle '|' i);
    band_hash = md5(band '|' mh_{2b} '|' mh_{2b+1})."""
    from archive_to_parquet_spark.operators.dedup import (
        shingles_col,
        spread_small_scan,
    )

    exploded = spread_small_scan(
        docs.select(F.col("doc_id").alias("id"), "text"), "id"
    ).select(
        "id", F.explode(F.array_distinct(shingles_col("text", 3))).alias("g")
    )
    sig = exploded.groupBy("id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.col("g"), F.lit(str(i)))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"mh_{i}")
            for i in range(_MHBK_HASHES)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.col(f"mh_{2 * b}").cast("string"),
                        F.col(f"mh_{2 * b + 1}").cast("string"),
                    )
                ).alias("band_hash"),
            )
            for b in range(_MHBK_BANDS)
        ]
    )
    return sig.select("id", F.explode(bands).alias("s")).select(
        F.col("id").alias("doc_id"), "s.band_idx", "s.band_hash"
    )


def dedup_minhash_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup (MinHash/LSH) index MAINTENANCE with a co-bucketed
    layout — `dedup_incremental_bucketed`'s zero-Exchange contract
    carried from exact to NEAR-dup dedup (r7 verdict ask #3; reference
    contract D1 generalized, src/sink.rs:75-103): the banded LSH index
    (distinct band buckets of the even-doc_id corpus) and the daily
    batch's band rows (odd doc_ids) are both bucketed 8-way on the
    band hash, so the daily index DELTA — which band buckets are new
    today, with their first member and membership count — plans with
    ZERO shuffle Exchanges (``bucketed_join``, held by the entry's
    plan pin).

    This is the daily workload of a 100-TB near-dup index: candidate
    lookup and delta-append both key on (band, bucket); bucketing the
    persisted index on the band hash means neither ever re-shuffles
    the index — the batch's groupBy AND the anti-join ride the bucket
    spec (the per-doc near-dup verdict over candidates is downstream
    and priced on candidates only — `dedup_minhash`,
    `stream_neardup_incremental`).

    Unlike `dedup_minhash` (xxhash64 signatures, oracle = exact-Jaccard
    twin + a recall argument), the md5-based signatures here are
    engine-reproducible, so the DuckDB oracle checks every band bucket
    key EXACTLY — banding quality never enters the equation.

    Staging is idempotent: both bucketed tables are written once per
    sf_dir and re-registered on later executions, so repeated runs
    measure the probe (see ensure_bucketed_table)."""
    import re

    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    ti, tb = f"mhbk_idx_{suffix}", f"mhbk_batch_{suffix}"
    stage = _stage_dir("mhbucketed", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    fp = ["mhbk-v1", _input_fingerprint(f"{sf_dir}/documents.parquet")]
    ensure_bucketed_table(
        spark, ti, os.path.join(stage, "idx"), "band_hash", 8,
        lambda: (
            _mhbk_banded(docs.filter(F.col("doc_id") % 2 == 0))
            .select("band_idx", "band_hash")
            .distinct()  # one row per band bucket; shuffle paid ONCE
        ),
        fp,
    )
    ensure_bucketed_table(
        spark, tb, os.path.join(stage, "new"), "band_hash", 8,
        lambda: _mhbk_banded(docs.filter(F.col("doc_id") % 2 == 1)),
        fp,
    )

    # band_hash embeds band_idx in its md5 input, so the single bucket
    # column is the full join key; grouping by (band_idx, band_hash)
    # still rides the bucket spec (grouping keys ⊇ partitioning key).
    return (
        bucketed_join(spark, tb, ti, "band_hash", "left_anti")
        .groupBy("band_idx", "band_hash")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count("*").alias("n_docs"),
        )
        .select("band_idx", "band_hash", "first_doc", "n_docs")
    )


def _mhbk_oracle_sql() -> str:
    """DuckDB twin of the md5 minhash banding — generated so the
    minhash/band count stays in one place."""
    mins = ",\n         ".join(
        f"MIN(('0x' || substr(md5(g || '|{i}'), 1, 15))::BIGINT) AS mh_{i}"
        for i in range(_MHBK_HASHES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, CAST({b} AS INTEGER) AS band_idx,\n"
        f"         md5('{b}|' || mh_{2 * b}::VARCHAR || '|' ||"
        f" mh_{2 * b + 1}::VARCHAR) AS band_hash FROM mh"
        for b in range(_MHBK_BANDS)
    )
    return rf"""
WITH base AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM base
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), mh AS (
  SELECT doc_id,
         {mins}
  FROM e GROUP BY doc_id
), banded AS (
{bands}
), idx AS (
  SELECT DISTINCT band_hash FROM banded WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, band_idx, band_hash FROM banded WHERE doc_id % 2 = 1
)
SELECT b.band_idx, b.band_hash,
       CAST(MIN(b.doc_id) AS BIGINT) AS first_doc,
       COUNT(*) AS n_docs
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.band_hash = b.band_hash)
GROUP BY 1, 2
"""


DEDUP_MINHASH_BUCKETED_SQL = _mhbk_oracle_sql()


# ---------------------------------------------------------------------------
# Suffix-sort maximal repeats (suffix array → adjacent LCP)
# ---------------------------------------------------------------------------

def dedup_suffix_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-sorting maximal-repeat detection — the distributed form
    of the suffix-array pass in Lee et al. (ACL 2022): every
    word-start suffix of the normalized corpus (truncated to 60 chars)
    is sorted; in suffix order, every repeated substring of length
    ≥ 25 appears as ADJACENT suffixes, and the adjacent pair's longest
    common prefix is the repeat's exact maximal length — variable-
    length evidence the fixed-window hashing of
    ``dedup_substring_exact`` cannot produce. Per document we report
    how many of its suffix positions sit in a ≥25-char repeat, how
    many of those repeats cross documents, the maximal repeat length,
    and the lexicographically-first repeated substring.

    Distribution note (why this scales where a textbook suffix array
    does not): suffixes sharing a 25-char prefix — the only pairs that
    can clear the threshold — are hash-partitioned by that prefix, so
    the sort and the adjacent-LCP window run per-group with NO global
    single-partition window; cross-group adjacencies have LCP < 25 by
    construction and are exactly the pairs the threshold discards.
    One shuffle on the prefix key, O(suffix_len) work per row, and the
    60-char truncation bounds row width — the Lee et al. pipeline runs
    the same bounded-context trick at corpus scale.

    LCP is computed engine-portably as |{i ≤ 60 : a[:i] = b[:i]}|,
    clamped to the shorter string's length — prefix equality is
    monotone, so the count IS the longest-common-prefix length (the
    clamp handles identical truncated suffixes, where every i agrees);
    no loop, no UDF, same expression in DuckDB.

    Version-invariance (round 9): normalization strips every byte
    outside ASCII ``[A-Za-z0-9]`` BEFORE lowercasing, so ``lower()``
    only ever sees ASCII and no engine's Unicode/ICU table revision
    can change the result; the DuckDB oracle uses no lambda syntax
    (correlated ``generate_series`` + a filtered COUNT replace the
    ``list_filter(.., p -> ..)`` forms, whose ``->`` arrow DuckDB
    deprecated after 1.2)."""
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    # round 11 (guide §2.5/§2.6): the documents parquet arrives as ONE
    # split at bench scale, pinning the CPU-heavy normalize+explode+
    # substr chain to a single task (4.4 s of the entry's profile).
    # spread_small_scan repartitions on doc_id only when the scan is
    # narrower than the cluster — a no-op on a 100-TB wide scan.
    sfx = _suffix_rows(spread_small_scan(docs, "doc_id"))
    w = Window.partitionBy("pfx").orderBy("suffix", "doc_id", "pos")
    # prefix equality is monotone, so the count of agreeing prefix
    # lengths IS the LCP — except when the two (truncated) suffixes are
    # IDENTICAL, where every probed i agrees; clamp to the string
    # length.  Group members share the 25-char prefix by construction,
    # so the scan starts at 26 and adds the guaranteed 25.
    #
    # Round 11 (guide §4.1): the agree-count is an UNROLLED sum of the
    # same per-i prefix-equality probes the
    # ``filter(sequence(...), lambda ...)`` form evaluated interpreted
    # (higher-order lambdas get no whole-stage codegen; this window
    # stage was 4.2 s of the entry's profile). Identical probe set →
    # identical count.
    agree = " + ".join(
        f"(CASE WHEN substr(suffix, 1, {i}) = substr(prev_sfx, 1, {i}) "
        "THEN 1 ELSE 0 END)"
        for i in range(_SFX_MIN + 1, _SFX_LEN + 1)
    )
    lcp = F.least(
        F.expr(f"{_SFX_MIN} + ({agree})"),
        F.length("suffix"),
        F.length("prev_sfx"),
    )
    pairs = (
        sfx.withColumn("prev_sfx", F.lag("suffix").over(w))
        .withColumn("prev_doc", F.lag("doc_id").over(w))
        .filter(F.col("prev_sfx").isNotNull())
        .withColumn("lcp", lcp)
        .filter(F.col("lcp") >= _SFX_MIN)
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_repeats"),
        F.sum(
            F.when(F.col("prev_doc") != F.col("doc_id"), 1).otherwise(0)
        ).cast("bigint").alias("n_cross_doc"),
        F.max("lcp").cast("int").alias("max_lcp"),
        F.min(F.substr(F.col("suffix"), F.lit(1), F.col("lcp"))).alias(
            "sample_repeat"
        ),
    )


DEDUP_SUFFIX_LCP_SQL = f"""
WITH {_SFX_SQL_PRELUDE},
sfx AS (
  SELECT doc_id, g.pos AS pos,
         substr(norm, g.pos, {_SFX_LEN}) AS suffix,
         substr(norm, g.pos, {_SFX_MIN}) AS pfx
  FROM norm, series g
  WHERE {_SFX_SQL_WHERE}
),
lagged AS (
  SELECT doc_id, pos, suffix,
         lag(suffix) OVER (PARTITION BY pfx
                           ORDER BY suffix, doc_id, pos) AS prev_sfx,
         lag(doc_id) OVER (PARTITION BY pfx
                           ORDER BY suffix, doc_id, pos) AS prev_doc
  FROM sfx
),
pairs AS (
  SELECT p.doc_id, p.pos, p.suffix, p.prev_doc,
         least({_SFX_MIN} + COUNT(*) FILTER (
                 WHERE substr(p.suffix, 1, s.i) = substr(p.prev_sfx, 1, s.i)),
               length(p.suffix), length(p.prev_sfx)) AS lcp
  FROM lagged p, generate_series({_SFX_MIN} + 1, {_SFX_LEN}) AS s(i)
  WHERE p.prev_sfx IS NOT NULL
  GROUP BY p.doc_id, p.pos, p.suffix, p.prev_sfx, p.prev_doc
)
SELECT doc_id,
       COUNT(*) AS n_repeats,
       CAST(SUM(CASE WHEN prev_doc <> doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_doc,
       CAST(MAX(lcp) AS INT) AS max_lcp,
       MIN(substr(suffix, 1, lcp)) AS sample_repeat
FROM pairs
WHERE lcp >= {_SFX_MIN}
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Bucketed suffix index + incremental probe (the fourth zero-Exchange
# bucketed family, after exact dedup, minhash and LSH-ANN)
# ---------------------------------------------------------------------------

def dedup_suffix_lcp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup index MAINTENANCE with a co-bucketed layout —
    ``dedup_suffix_lcp``'s prefix groups ARE a bucketing key (r9
    verdict stretch #6): every suffix pair that can clear the ≥25-char
    repeat threshold shares its 25-char prefix, so a persisted suffix
    index bucketed on ``pfx`` answers the daily question — which
    25-char prefix groups are NEW today, i.e. which long substrings
    appear for the first time — with ZERO shuffle Exchanges
    (``bucketed_join``, held by the entry's plan pin; same zero-Exchange
    contract as ``dedup_minhash_bucketed`` /
    ``dedup_incremental_bucketed``; reference contract D1 generalized to
    substring dedup).

    Index = distinct 25-char prefixes of the even-doc_id corpus's
    word-start suffixes (``_suffix_rows``, shared with the batch
    entry so both agree on the suffix universe); batch = the odd-doc
    suffix rows. Both bucketed 8-way on ``pfx``, written once per
    sf_dir (ensure_bucketed_table): the anti-join rides the bucket
    spec and the delta aggregation groups BY the bucket key, so a
    100-TB index never re-shuffles — the probe's cost is the day's
    batch alone.

    Matching is prefix-EXACT (both engines compare the same ASCII-
    normalized 25-char strings), so the DuckDB oracle checks every
    group key exactly — no banding-quality argument needed."""
    import re

    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    ti, tb = f"sfxbk_idx_{suffix}", f"sfxbk_batch_{suffix}"
    stage = _stage_dir("sfxbucketed", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    fp = ["sfxbk-v1", _input_fingerprint(f"{sf_dir}/documents.parquet")]
    ensure_bucketed_table(
        spark, ti, os.path.join(stage, "idx"), "pfx", 8,
        lambda: (
            _suffix_rows(docs.filter(F.col("doc_id") % 2 == 0))
            .select("pfx")
            .distinct()  # one row per prefix group; shuffle paid ONCE
        ),
        fp,
    )
    ensure_bucketed_table(
        spark, tb, os.path.join(stage, "new"), "pfx", 8,
        lambda: _suffix_rows(docs.filter(F.col("doc_id") % 2 == 1)).select(
            "doc_id", "pos", "pfx"
        ),
        fp,
    )

    return (
        bucketed_join(spark, tb, ti, "pfx", "left_anti")
        .groupBy("pfx")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count("*").alias("n_suffixes"),
        )
        .select("pfx", "first_doc", "n_suffixes")
    )


DEDUP_SUFFIX_BUCKETED_SQL = f"""
WITH {_SFX_SQL_PRELUDE},
sfx AS (
  SELECT doc_id, substr(norm, g.pos, {_SFX_MIN}) AS pfx
  FROM norm, series g
  WHERE {_SFX_SQL_WHERE}
),
idx AS (SELECT DISTINCT pfx FROM sfx WHERE doc_id % 2 = 0),
batch AS (SELECT doc_id, pfx FROM sfx WHERE doc_id % 2 = 1)
SELECT b.pfx,
       CAST(MIN(b.doc_id) AS BIGINT) AS first_doc,
       CAST(COUNT(*) AS BIGINT) AS n_suffixes
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.pfx = b.pfx)
GROUP BY 1
"""


ENTRIES = {
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_minhash": (dedup_minhash, DEDUP_NGRAM_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_lsh": (dedup_embedding_lsh, DEDUP_EMBEDDING_LSH_SQL),
    "dedup_semantic": (dedup_semantic, DEDUP_SEMANTIC_SQL),
    "dedup_near_clusters": (dedup_near_clusters, DEDUP_CLUSTERS_SQL),
    # the same entry under the name the catalog has always listed
    "dedup_near_clusters_star": (dedup_near_clusters, DEDUP_CLUSTERS_SQL),
    "split_leakage_safe": (split_leakage_safe, SPLIT_LEAKAGE_SQL),
    "dedup_span_removal": (dedup_span_removal, DEDUP_SPAN_REMOVAL_SQL),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "dedup_url_canonical": (dedup_url_canonical, DEDUP_URL_SQL),
    "dedup_bloom_probe": (dedup_bloom_probe, DEDUP_BLOOM_SQL),
    "dedup_incremental_bucketed": (
        dedup_incremental_bucketed,
        DEDUP_INCREMENTAL_BUCKETED_SQL,
    ),
    "dedup_minhash_bucketed": (dedup_minhash_bucketed, DEDUP_MINHASH_BUCKETED_SQL),
    "dedup_substring_exact": (dedup_substring_exact, DEDUP_SUBSTRING_EXACT_SQL),
    "dedup_cdc_chunks": (dedup_cdc_chunks, DEDUP_CDC_CHUNKS_SQL),
    "dedup_cdc_gear": (dedup_cdc_gear, DEDUP_CDC_GEAR_SQL),
    "dedup_suffix_lcp": (dedup_suffix_lcp, DEDUP_SUFFIX_LCP_SQL),
    "dedup_suffix_lcp_bucketed": (dedup_suffix_lcp_bucketed, DEDUP_SUFFIX_BUCKETED_SQL),
}
