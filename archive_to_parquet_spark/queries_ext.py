"""Catalog extension (continuation 4): corpus formats, curation,
time-series, tokenizer-apply, PQ/k-means, and multimodal decode.

Same contract as ``queries.py``: each entry pairs an idiomatic-Spark
query with an ANSI-SQL oracle DuckDB runs over the same parquet views,
every computed column aliased identically on both sides.

Groups:

- ``source_*`` — corpus-format round-trips (gzipped JSONL / quoted CSV
  / ORC; sha-certified lossless) and layout levers (Hive partitioning
  with planning-time pruning, runtime dynamic partition pruning).
- ``parse_quarantine`` / ``dedup_url_canonical`` /
  ``curation_domain_cap`` — dirty-shard routing and crawl curation.
- ``rel_decayed_sum`` / ``rel_gapfill_hourly`` /
  ``rel_session_window_native`` — time-series patterns (decayed
  aggregates, gap-fill + forward fill, native session windows).
- ``tokenize_bpe_encode`` / ``chunk_documents`` / ``text_tfidf_terms``
  / ``decontaminate_semantic`` — the tokenizer-apply / RAG side of the
  training pipeline.
- ``ann_pq_topk`` / ``cluster_kmeans`` — vector ops with every float
  hazard removed (integer micro-unit distance math) so the oracles
  replay them bit-for-bit.
- ``multimodal_header_decode`` — constructed PNG/WAV bytes through the
  real Arrow decoders, oracle = the closed-form geometry.

Cross-engine determinism patterns used throughout (each documented at
its first use): integer-cents/micro-unit aggregation instead of float
sums, half-up integer division instead of round(), idf rounded before
products because JVM vs libm ``ln`` differs in the last ulp, and
boundary semantics pinned empirically (session_window gap merge).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.web import canonicalize_url


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Corpus-format sources: JSONL (gzip shards) and CSV round-trips
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING"



def _stage_dir(kind: str, sf_dir: str) -> str:
    """Deterministic staging dir per (kind, sf_dir): repeated runs
    overwrite the same location instead of leaking a fresh mkdtemp per
    invocation (the writers below all use mode("overwrite"))."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"a2ps_stage_{kind}_{tag}")
    os.makedirs(path, exist_ok=True)
    return path


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → gzipped JSONL shards → generic JSONL reader →
    projection. Proves the interchange format every public text corpus
    ships in (jsonl.gz) round-trips losslessly: ``to_json`` escapes
    newlines/quotes/unicode on write, the JSON datasource unescapes on
    read, and the sha256 of the text column must survive the cycle.

    Scale notes: gzip is NOT splittable — one read task per shard, so
    shard count (= write partitions) is the read parallelism; a real
    corpus ingest repartitions right after the scan to decouple
    downstream parallelism from shard count (done here). Schema is
    explicit on read: no sampling inference pass over 100 TB.
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("jsonl", sf_dir)
    out = os.path.join(stage, "shards")
    docs.select(
        F.to_json(
            F.struct("doc_id", "lang", "source", "n_chars", "text")
        ).alias("value")
    ).write.mode("overwrite").option("compression", "gzip").text(out)
    back = (
        spark.read.schema(_DOCS_SCHEMA)
        .json(out)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.sha2("text", 256).alias("text_sha"),
    )


SOURCE_JSONL_SQL = """
SELECT doc_id, lang, source, n_chars, sha256(text) AS text_sha
FROM documents
"""


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quoted CSV (RFC 4180 double-quote escaping) → CSV
    reader → projection. The text column embeds commas, quotes, and
    newlines, so this exercises real quoting, not the happy path.

    Scale notes: embedded newlines force ``multiLine`` on read, which
    parses each file as one stream (non-splittable) — the honest
    trade-off of CSV-with-newlines as an interchange format; shard
    small on write (or strip newlines upstream) to keep read
    parallelism. Explicit schema on read, header off: no inference.
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("csv", sf_dir)
    out = os.path.join(stage, "shards")
    (
        docs.select("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite")
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        # the CSV writer TRIMS cell whitespace by default — disable for
        # a lossless round-trip (the reader's defaults already preserve)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out)
    )
    back = (
        spark.read.schema(_DOCS_SCHEMA)
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(out)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return back.select(
        "doc_id",
        "lang",
        "n_chars",
        F.sha2("text", 256).alias("text_sha"),
    )


SOURCE_CSV_SQL = """
SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
FROM documents
"""


# ---------------------------------------------------------------------------
# Malformed-record routing (quarantine pattern)
# ---------------------------------------------------------------------------


def parse_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE parse with corrupt-record routing — the production
    pattern for dirty corpus shards: parse what parses, quarantine the
    rest with the raw line preserved, never fail the job.

    Raw JSON lines are built deterministically from documents: ids
    divisible by 5 are truncated mid-object (malformed), the rest are
    valid. ``from_json`` in PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` routes each row: good rows populate
    the typed fields, bad rows land the raw string in ``_bad``. The
    oracle states the ground truth the construction implies.

    Scale: one pure-JVM projection, no shuffle, no UDF; a real pipeline
    writes ``ok=0`` rows to a quarantine sink with the same predicate.
    """
    docs = _t(spark, sf_dir, "documents")
    valid = F.to_json(
        F.struct(F.col("doc_id").alias("id"), F.col("lang").alias("lang"))
    )
    raw = F.when(F.col("doc_id") % 5 == 0, F.substring(valid, 1, 10)).otherwise(
        valid
    )
    parsed = F.from_json(
        raw,
        "id LONG, lang STRING, _bad STRING",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"},
    )
    return docs.select("doc_id", parsed.alias("p")).select(
        "doc_id",
        F.col("p._bad").isNull().cast("int").alias("ok"),
        F.col("p.lang").alias("parsed_lang"),
        F.coalesce(F.length("p._bad"), F.lit(-1)).alias("bad_len"),
    )


PARSE_QUARANTINE_SQL = """
SELECT doc_id,
       CAST(doc_id % 5 <> 0 AS INT) AS ok,
       CASE WHEN doc_id % 5 <> 0 THEN lang END AS parsed_lang,
       CASE WHEN doc_id % 5 = 0 THEN 10 ELSE -1 END AS bad_len
FROM documents
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
# Time-decayed aggregation
# ---------------------------------------------------------------------------


def rel_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user aggregates (1-day half-life,
    anchored at the corpus max timestamp): the standard recency-weighted
    engagement score. ``w = exp(-ln2 · Δt / 86400)`` per event, then
    ``Σ w·value`` and ``Σ w`` per user — a plain weighted sum, so it
    stays a single map-side-partial groupBy (decayed sums are mergeable
    partials, unlike a recursive EWMA formulation which would force an
    ordered scan per user).

    Scale: one tiny broadcast (the global max timestamp — one row) and
    one shuffle on user_id. Floats rounded to 2dp on both sides.
    """
    from archive_to_parquet_spark.queries import _events

    ev = _events(spark, sf_dir).select("user_id", "value", "ts_sec")
    tmax = ev.agg(F.max("ts_sec").alias("tmax_sec"))
    w = F.exp(
        -F.log(F.lit(2.0)) * (F.col("tmax_sec") - F.col("ts_sec")) / F.lit(86400.0)
    )
    return (
        ev.crossJoin(F.broadcast(tmax))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(w * F.col("value")), 2).alias("decayed_value"),
            F.round(F.sum(w), 2).alias("decayed_count"),
        )
    )


REL_DECAYED_SUM_SQL = """
WITH e AS (
  SELECT user_id, value, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
), m AS (
  SELECT max(ts_sec) AS tmax_sec FROM e
)
SELECT user_id,
       COUNT(*) AS n_events,
       round(SUM(exp(-ln(2) * (tmax_sec - ts_sec) / 86400.0) * value), 2)
         AS decayed_value,
       round(SUM(exp(-ln(2) * (tmax_sec - ts_sec) / 86400.0)), 2)
         AS decayed_count
FROM e, m
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Per-domain document cap (C4/RefinedWeb-style corpus balancing)
# ---------------------------------------------------------------------------


def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap documents per registrable domain, keeping the best N — the
    corpus-balancing step C4/RefinedWeb run so no single domain
    dominates the training mix. Domains derive deterministically from
    (source, doc_id) as in ``web_domain_stats``; "best" = longest text,
    doc_id as the deterministic tiebreak.

    Scale: one shuffle on domain for the ranking window. The window
    sorts each domain's documents; for mega-domains (the exact rows a
    cap exists for) this is the classic top-k-per-group skew — at 100 TB
    run the two-phase form instead: groupBy(domain) with a bounded
    ``slice(sort_array(collect_list(struct)), 1, N)`` partial top-k, or
    pre-filter with an approximate per-domain quantile. N=3 here keeps
    the oracle a plain ROW_NUMBER.
    """
    docs = _t(spark, sf_dir, "documents")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    domain = F.concat(F.col("source"), F.lit(".example."), tld)
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "n_chars", domain.alias("domain"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("domain", "rnk", "doc_id", "n_chars")
    )


CURATION_DOMAIN_CAP_SQL = """
SELECT domain, rnk, doc_id, n_chars
FROM (
  SELECT source || '.example.' ||
           CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
           AS domain,
         doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source || '.example.' ||
             CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END
           ORDER BY n_chars DESC, doc_id ASC
         ) AS rnk
  FROM documents
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Time-series gap-fill with forward fill (hypertable-style resample)
# ---------------------------------------------------------------------------


def rel_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample per user with gap-filling: forward-fill each gap
    hour with the last observed hourly average — the TimescaleDB
    ``time_bucket_gapfill + locf`` pattern as plain DataFrame ops.

    Plan shape (round-4 rewrite): each observed hour looks up its NEXT
    observed hour (``lead`` over the per-user hour order), then explodes
    ``sequence(h, next_h − 1)`` — every generated hour inherits the
    run's value directly, so the dense grid, its left join back to the
    observations, and the ``last(..., ignoreNulls)`` fill window are all
    gone. Two shuffles total (hourly agg, lead window) instead of four;
    the explode is narrow. Same output contract: ``is_gap`` marks hours
    with no observation.

    Scale: generated rows materialize only at the exploding task, never
    on the driver; the window carries one row per OBSERVED hour, not
    per grid hour. Averages are exact-integer rounded BEFORE the fill
    so both engines propagate identical values.
    """
    ev = _events(spark, sf_dir)
    hour = (F.col("ts_sec") / 3600).cast("long")
    # aggregate exact integer cents, not doubles: avg(double) is
    # accumulation-order-dependent across engines, and even on an exact
    # half (Σ=3841¢, n=2 → 19.205) Spark's round (HALF_UP on the
    # shortest decimal repr) and DuckDB's (on the binary value)
    # disagree — so the 2dp rounding itself is integer math too:
    # cents_rounded = (2Σ + n) div 2n, exact on both engines
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hourly = (
        ev.select("user_id", hour.alias("h"), cents.alias("cents"))
        .groupBy("user_id", "h")
        .agg(
            (
                F.expr("(2 * sum(cents) + count(*)) div (2 * count(*))")
                / F.lit(100.0)
            ).alias("avg_value")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("h")
    runs = hourly.select(
        "user_id",
        "h",
        "avg_value",
        F.coalesce(F.lead("h").over(w) - 1, F.col("h")).alias("run_end"),
    )
    return runs.select(
        "user_id",
        F.explode(F.sequence("h", "run_end")).alias("h_out"),
        "avg_value",
        F.col("h").alias("h_obs"),
    ).select(
        "user_id",
        F.col("h_out").alias("h"),
        F.col("avg_value").alias("value_filled"),
        (F.col("h_out") != F.col("h_obs")).cast("int").alias("is_gap"),
    )


REL_GAPFILL_SQL = """
WITH e AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000) // 3600 AS h, value FROM events
), hourly AS (
  SELECT user_id, h,
         ((2 * SUM(CAST(round(value * 100) AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*))) / 100.0
           AS avg_value
  FROM e GROUP BY 1, 2
), span AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT s.user_id, g.h
  FROM span s, LATERAL (SELECT unnest(generate_series(s.h0, s.h1)) AS h) g
)
SELECT g.user_id, g.h,
       last_value(hy.avg_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled,
       CAST(hy.avg_value IS NULL AS INT) AS is_gap
FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from archive_to_parquet_spark.queries import _events as _ev

    return _ev(spark, sf_dir)


# ---------------------------------------------------------------------------
# ORC source round-trip
# ---------------------------------------------------------------------------


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC → ORC reader → projection, sha-certified like the
    JSONL/CSV twins. ORC is the columnar interchange format Hive-era
    corpora ship in; Spark reads/writes it natively (predicate pushdown
    and column pruning both apply, same as parquet)."""
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("orc", sf_dir)
    out = os.path.join(stage, "shards")
    docs.write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "doc_id",
        "lang",
        "n_chars",
        F.sha2("text", 256).alias("text_sha"),
    )


SOURCE_ORC_SQL = """
SELECT doc_id, lang, n_chars, sha256(text) AS text_sha
FROM documents
"""


# ---------------------------------------------------------------------------
# Hive-partitioned layout + partition-pruned read
# ---------------------------------------------------------------------------


def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the corpus Hive-partitioned by language, then read ONE
    partition back — the layout move that makes per-language filters
    free at 100 TB (the `lang=en` filter never opens the other
    directories: partition pruning happens at planning, before any I/O;
    test_queries_ext pins the pruned-scan plan shape).

    The partition column comes back from the directory name, not file
    contents — type and presence must survive the round-trip.
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("part", sf_dir)
    out = os.path.join(stage, "by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SOURCE_PARTITIONED_SQL = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'en'
GROUP BY source
"""


# Language → script dim shared by the DPP query and its oracle.
_LANG_SCRIPT = [
    ("en", "latin"),
    ("de", "latin"),
    ("es", "latin"),
    ("fr", "latin"),
    ("zh", "cjk"),
]


def source_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a broadcast dim filter prunes the
    partitioned fact's directories at RUNTIME. The corpus is written
    Hive-partitioned by lang; joining it to a tiny lang→script dim
    filtered to one script means Spark only ever reads the matching
    lang partitions — the pruning predicate is injected as a dynamic
    subquery on the fact scan (plan pinned in test_queries_ext), so at
    100 TB the scan cost tracks the SELECTED partitions, not the table.
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("dpp", sf_dir)
    out = os.path.join(stage, "by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(_LANG_SCRIPT, "lang string, script string")
    return (
        fact.join(F.broadcast(dim), "lang")
        .filter(F.col("script") == "cjk")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SOURCE_DPP_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
JOIN (VALUES ('en','latin'), ('de','latin'), ('es','latin'),
             ('fr','latin'), ('zh','cjk')) AS dim(lang, script)
  USING (lang)
WHERE script = 'cjk'
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# BPE tokenizer: apply/encode with a fixed merge table
# ---------------------------------------------------------------------------

# Ordered merge list (classic high-frequency English merges; "in"+"g"
# consumes the earlier "i"+"n" product, exercising merge chaining).
# Fixed rather than learned so the ENCODER is oracle-checkable
# bit-for-bit — the learner (bpe_merge_rounds) is certified by unit
# tests and its first-round statistic by `bpe_top_pairs`.
_BPE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("in", "g"),
]


def tokenize_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a fixed BPE merge table to every document and count the
    resulting tokens — the encode pass a tokenizer runs over the whole
    corpus after training. Per-row JVM expressions only (char-split →
    ordered merge replaces → separator count, summed with
    ``aggregate``); no shuffle at all, so the op scales with scan
    bandwidth. See operators/tokenize.bpe_token_count_col."""
    from archive_to_parquet_spark.operators.tokenize import bpe_token_count_col

    docs = _t(spark, sf_dir, "documents")
    n_words, n_tokens = bpe_token_count_col("text", _BPE_MERGES)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
    )


def _bpe_encode_oracle_sql() -> str:
    sep = "chr(31)"
    sym = f"array_to_string(string_split(x, ''), {sep})"
    for left, right in _BPE_MERGES:
        l_lit = "'" + left + "'"
        r_lit = "'" + right + "'"
        sym = (
            f"replace({sym}, {l_lit} || {sep} || {r_lit}, "
            f"{l_lit} || {r_lit})"
        )
    word_tokens = (
        f"CASE WHEN regexp_matches(x, '^[ -~]*$') "
        f"THEN len(string_split({sym}, {sep})) ELSE 1 END"
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS words
  FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(coalesce(list_sum(list_transform(words,
              x -> {word_tokens})), 0) AS BIGINT) AS n_tokens
FROM w
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
# Document chunking (RAG-style overlapping windows)
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 50, 30


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping word windows (size 50,
    stride 30) — the retrieval/RAG chunking pass. Window starts come
    from ``sequence(1, n_words, stride)`` and each chunk is a
    ``slice`` of the word array — pure per-row JVM expressions, the
    explode is the only row fan-out and there is NO shuffle; the op is
    scan-bandwidth-bound like the BPE encoder. Emits (doc_id,
    chunk_idx, chunk_len, chunk_sha) — sha instead of raw text keeps
    the result compact; the text itself is array_to_string of the same
    slice."""
    docs = _t(spark, sf_dir, "documents")
    words = F.array_remove(F.split(F.lower("text"), r"\s+"), "")
    n = F.size(words)
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n"), F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    return (
        docs.select("doc_id", words.alias("w"), n.alias("n"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "n",
            "w",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .filter(F.col("start") <= F.col("n"))
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(_CHUNK_SIZE), F.col("n") - F.col("start") + 1
            ).cast("int").alias("chunk_len"),
            F.sha2(
                F.concat_ws(
                    " ", F.slice(F.col("w"), F.col("start"), _CHUNK_SIZE)
                ),
                256,
            ).alias("chunk_sha"),
        )
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS words
  FROM documents
), starts AS (
  SELECT doc_id, words, len(words) AS n,
         unnest(range(1, greatest(len(words), 1) + 1, {_CHUNK_STRIDE}))
           AS start,
         generate_subscripts(range(1, greatest(len(words), 1) + 1,
                                   {_CHUNK_STRIDE}), 1) - 1 AS chunk_idx
  FROM w WHERE len(words) > 0
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(least({_CHUNK_SIZE}, n - start + 1) AS INT) AS chunk_len,
       sha256(array_to_string(words[start : start + {_CHUNK_SIZE} - 1], ' '))
         AS chunk_sha
FROM starts WHERE start <= n
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document: tf from one word explode, df
    from the distinct (doc, word) set, idf = ln(N/df). Plan: two
    map-side-combinable shuffles (word stats) + one ranking window on
    doc_id; N arrives via a one-row broadcast.

    Cross-engine float note: ln differs between JVM and libm in the
    last ulp on ~8% of arguments (measured), so idf is rounded to 6dp
    FIRST; tf·idf6 is then bit-identical on both engines and the final
    6dp rounding of the product is the identity on an already-6dp
    value — no boundary to disagree on."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_remove(F.split(F.lower("text"), r"\s+"), "")
        ).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = (
        tf.groupBy("word").agg(F.count("*").alias("df"))
    )
    idf6 = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(F.col("tf") * idf6, 6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "word", "tf", "tfidf")
    )


TEXT_TFIDF_SQL = """
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2
), df AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*)::DOUBLE AS n_docs FROM documents
)
SELECT doc_id, rnk, word, tf, tfidf FROM (
  SELECT tf.doc_id, tf.word, tf.tf,
         round(tf.tf * round(ln(n.n_docs / df.df), 6), 6) AS tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * round(ln(n.n_docs / df.df), 6), 6) DESC,
                    tf.word ASC) AS INT) AS rnk
  FROM tf JOIN df USING (word), n
) WHERE rnk <= 5
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
# Native session_window aggregation (batch form of the streaming API)
# ---------------------------------------------------------------------------


def rel_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE ``session_window``
    (the same operator the streaming sessionizer uses, in batch mode) —
    complements `rel_sessionize`, which counts sessions with the
    lag+cumsum idiom. One shuffle on the session key; the session
    assignment itself is a sort-based merge inside the aggregation, not
    a window function.

    Boundary semantics (verified against an exactly-1800 s gap in the
    sf0.1 data, and the oracle mirrors them): per-event windows
    [t, t + gap] merge when they TOUCH, so an event at exactly
    last_event + 1800 stays in the session — the same `> timeout`
    split rule as the lag idiom; only strictly larger gaps start a new
    session. Value sums are integer cents (see rel_gapfill_hourly).
    """
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.select(
            "user_id",
            F.timestamp_seconds(F.col("ts_sec")).alias("t"),
            cents.alias("cents"),
        )
        .groupBy("user_id", F.session_window("t", "1800 seconds").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("session_cents"),
        )
        .select(
            "user_id",
            F.unix_seconds(F.col("sw.start")).alias("session_start"),
            "n_events",
            "session_cents",
        )
    )


REL_SESSION_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS ts_sec
  FROM events
), flagged AS (
  SELECT user_id, ts_sec, value,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM t
), numbered AS (
  SELECT user_id, ts_sec, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_sec
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts_sec) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS session_cents
FROM numbered
GROUP BY user_id, session_id
"""



# ---------------------------------------------------------------------------
# Multimodal: real header decode, driver-checked
# ---------------------------------------------------------------------------


def _be4(col):
    """4-byte big-endian binary of an int column (JVM hex/lpad/unhex)."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def _le(col, n_bytes: int):
    """n-byte little-endian binary of an int column."""
    parts = [
        F.unhex(
            F.lpad(
                F.hex((col / (256 ** i)).cast("long") % 256), 2, "0"
            )
        )
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def _be2(col):
    """2-byte big-endian binary of an int column."""
    return F.unhex(F.lpad(F.hex(col), 4, "0"))


def multimodal_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal decode path, driver-checked: valid PNG, WAV,
    Ogg/Vorbis, Ogg/Opus, MP4/M4A audio, ADTS/AAC, AIFF, Sun/NeXT .au,
    MP3-with-Xing (round 10: exact frames×1152 duration from the VBR
    header — the header tier the r8 stretch asked for, still no PCM
    claim) and Matroska/WebM
    bytes are constructed JVM-side with
    closed-form geometry (width/height/sample-rate/duration derived
    from doc_id), pushed through the image/audio/video cell kernels of
    one ``decode_media`` pass, and the parsed metadata must equal what the
    construction implies — the oracle states the closed form. This
    certifies the binary-column plumbing AND the header parsers
    end-to-end (reference parity for the stub-free formats; codec
    formats still raise loudly).

    The Ogg leg (r7 verdict stretch #8) builds a minimal two-page
    stream — BOS page carrying the ``\\x01vorbis`` identification
    header, EOS page whose granule position is the total sample count —
    and the ADTS leg a run of header-only AAC frames (1024 samples
    each), so rate/channels/duration extraction is certified for both
    WITHOUT any PCM claim (the deliberate codec boundary stands).

    The WebM leg (round 8) builds a minimal Matroska stream — EBML
    header (DocType webm), Segment→Info carrying TimestampScale
    (doc_id-derived, ns/tick) + Duration (1000.0 ticks, a literal
    8-byte float), Segment→Tracks→TrackEntry→Video carrying
    PixelWidth/PixelHeight — and pushes it through the real EBML walk
    (parse_matroska_header), certifying duration_s = ticks × scale /
    1e9 and the dims against the closed form. Same boundary: container
    metadata only, no frame/codec claim.

    Scale: decode is per-row in Arrow batches in one Python pass, no
    join.
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan
    from archive_to_parquet_spark.operators.multimodal import (
        AUDIO_FEATURES,
        IMAGE_FEATURES,
        VIDEO_META,
        decode_media,
    )

    # spread the one-split documents scan across the cluster BEFORE the
    # byte construction + decode (guide §2.5): with all ten formats in
    # one pass the whole decode otherwise runs as a single task; no-op
    # on a wide 100-TB scan
    docs = spread_small_scan(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    width = (F.col("doc_id") % 300 + 16).cast("long")
    height = (F.col("doc_id") % 200 + 16).cast("long")
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
        _be4(width),
        _be4(height),
        F.unhex(F.lit("0802000000")),  # 8-bit, color type 2 (RGB)
    )
    rate = (F.lit(8000) + (F.col("doc_id") % 5) * 1000).cast("long")
    n_samples = (F.col("doc_id") % 1000 + 100).cast("long")
    data_size = n_samples * 2  # mono 16-bit
    wav = F.concat(
        F.unhex(F.lit("52494646")),            # RIFF
        _le(data_size + 36, 4),                # riff size
        F.unhex(F.lit("57415645666D7420")),    # WAVEfmt(space)
        _le(F.lit(16), 4),                     # fmt chunk size
        _le(F.lit(1), 2),                      # PCM
        _le(F.lit(1), 2),                      # mono
        _le(rate, 4),
        _le(rate * 2, 4),                      # byte rate
        _le(F.lit(2), 2),                      # block align
        _le(F.lit(16), 2),                     # bits
        F.unhex(F.lit("64617461")),            # data
        _le(data_size, 4),
    )
    # Ogg/Vorbis: BOS page (30-byte identification-header packet) + EOS
    # page whose granule position = total samples; CRCs zero (the
    # parser extracts metadata, it does not verify page integrity)
    ogg_rate = (F.lit(8000) + (F.col("doc_id") % 4) * 4000).cast("long")
    ogg_channels = (F.col("doc_id") % 2 + 1).cast("long")
    ogg_total = (F.col("doc_id") % 4000 + 500).cast("long")
    ogg = F.concat(
        # OggS v0 BOS, granule 0, serial 1, seq 0, crc 0, 1 seg of 30
        F.unhex(F.lit(
            "4F676753" + "00" + "02" + "00" * 8
            + "01000000" + "00000000" + "00000000" + "01" + "1E"
            + "01" + "766F72626973" + "00000000"  # \x01vorbis, version 0
        )),
        F.unhex(F.lpad(F.hex(ogg_channels), 2, "0")),
        _le(ogg_rate, 4),
        # bitrates (3x4 zero), blocksizes 0xB8, framing 1
        F.unhex(F.lit("00" * 12 + "B8" + "01")),
        # OggS v0 EOS page: granule = total samples, seq 1, 1-byte body
        F.unhex(F.lit("4F676753" + "00" + "04")),
        _le(ogg_total, 8),
        F.unhex(F.lit("01000000" + "01000000" + "00000000" + "01" + "01" + "00")),
    )
    # Ogg/Opus (RFC 7845): BOS page with the 19-byte OpusHead (version
    # 1, pre-skip 312, informational input rate 48k), EOS page whose
    # granule = pre-skip + n samples (granules always count 48 kHz
    # samples, so duration = n / 48000 whatever the input rate)
    opus_n = (F.col("doc_id") % 48000 + 4800).cast("long")
    opus_channels = (F.col("doc_id") % 2 + 1).cast("long")
    opus = F.concat(
        # OggS v0 BOS, granule 0, serial 2, seq 0, crc 0, 1 seg of 19
        F.unhex(F.lit(
            "4F676753" + "00" + "02" + "00" * 8
            + "02000000" + "00000000" + "00000000" + "01" + "13"
            + "4F70757348656164" + "01"  # OpusHead, version 1
        )),
        F.unhex(F.lpad(F.hex(opus_channels), 2, "0")),
        _le(F.lit(312), 2),    # pre-skip
        _le(F.lit(48000), 4),  # input rate (informational only)
        F.unhex(F.lit("0000" + "00")),  # output gain, mapping family 0
        # OggS v0 EOS page: granule = pre-skip + samples, seq 1, 1-byte body
        F.unhex(F.lit("4F676753" + "00" + "04")),
        _le(opus_n + 312, 8),
        F.unhex(F.lit("02000000" + "01000000" + "00000000" + "01" + "01" + "00")),
    )
    # ADTS/AAC: n header-only frames (frame_length 7, AAC LC, mono,
    # fullness 0x7FF, no CRC), 1024 samples each
    adts_rate_idx = (F.lit(3) + F.col("doc_id") % 3).cast("long")  # 48k/44.1k/32k
    n_frames = (F.col("doc_id") % 5 + 2).cast("int")
    adts_frame_hex = F.concat(
        F.lit("FFF1"),
        F.lpad(F.hex(F.lit(0x40) + adts_rate_idx * 4), 2, "0"),
        F.lit("4000FFFC"),
    )
    adts = F.unhex(F.expr("repeat(_adts_frame_hex, _n_frames)"))
    # MP4/M4A audio (ISO 14496-12): fixed 173-byte box tree with every
    # size literal — ftyp + moov→trak→mdia{mdhd,hdlr(soun),minf→stbl→
    # stsd→mp4a}; mdhd timescale is set to the sample rate so
    # n_samples = mdhd duration exactly
    m4a_rate = (F.lit(16000) + (F.col("doc_id") % 3) * 8000).cast("long")
    m4a_n = (F.col("doc_id") % 96000 + 9600).cast("long")
    m4a_channels = (F.col("doc_id") % 2 + 1).cast("long")
    m4a = F.concat(
        F.unhex(F.lit(
            "00000010" + "66747970" + "4D344120" + "00000000"  # ftyp M4A
            + "0000009D" + "6D6F6F76"                          # moov (157)
            + "00000095" + "7472616B"                          # trak (149)
            + "0000008D" + "6D646961"                          # mdia (141)
            + "00000020" + "6D646864" + "00000000"             # mdhd v0
            + "00000000" + "00000000"                          # ctime, mtime
        )),
        _be4(m4a_rate),   # timescale = sample rate
        _be4(m4a_n),      # duration in ticks = samples
        F.unhex(F.lit(
            "00000000"                                         # language+pre
            + "00000021" + "68646C72" + "00000000" + "00000000"
            + "736F756E" + "00" * 12 + "00"                    # hdlr 'soun'
            + "00000044" + "6D696E66"                          # minf (68)
            + "0000003C" + "7374626C"                          # stbl (60)
            + "00000034" + "73747364" + "00000000" + "00000001"  # stsd, 1 entry
            + "00000024" + "6D703461" + "000000000000" + "0001"  # mp4a, dref 1
            + "0000" + "0000" + "00000000"                     # ver, rev, vendor
        )),
        _be2(m4a_channels),
        F.unhex(F.lit("0010" + "0000" + "0000")),              # 16-bit, pre, res
        _be4(m4a_rate * 65536),                                # 16.16 rate
    )
    # Matroska/WebM: fixed 64-byte layout, all EBML size vints literal;
    # only TimestampScale (4-byte uint) and the pixel dims (2-byte
    # uints) vary. Duration is the literal double 1000.0 ticks, so
    # duration_s = 1000 * (m*1000 ns) / 1e9 = m / 1000 exactly.
    webm_m = (F.col("doc_id") % 4000 + 500).cast("long")
    webm_w = (F.col("doc_id") % 640 + 16).cast("long")
    webm_h = (F.col("doc_id") % 480 + 16).cast("long")
    webm = F.concat(
        F.unhex(F.lit(
            "1A45DFA3" + "87" + "4282847765626D"  # EBML hdr, DocType webm
            + "18538067" + "AF"                   # Segment (47-byte body)
            + "1549A966" + "93"                   # Info (19)
            + "2AD7B184"                          # TimestampScale, uint32
        )),
        _be4(webm_m * 1000),
        F.unhex(F.lit(
            "448988" + "408F400000000000"         # Duration = 1000.0 ticks
            + "1654AE6B" + "92"                   # Tracks (18)
            + "AE" + "90"                         # TrackEntry (16)
            + "D78101" + "838101"                 # TrackNumber 1, type video
            + "E0" + "88"                         # Video (8)
            + "B082"                              # PixelWidth, uint16
        )),
        _be2(webm_w),
        F.unhex(F.lit("BA82")),                   # PixelHeight, uint16
        _be2(webm_h),
    )
    # AIFF (round 9): COMM-only IFF file — channels 1, 16-bit,
    # numSampleFrames doc_id-derived, sample rate an 80-bit IEEE
    # extended float from a 4-entry literal table; certifies the
    # big-endian chunk walk + extended-float decode.  Rates are chosen
    # TIE-FREE: n/rate must never land exactly on a 7th-decimal 5 over
    # the frame range, because Spark's round() (HALF_UP on the
    # shortest-repr BigDecimal) and DuckDB's (on the raw double)
    # disagree at exact 6dp ties — 16000/32000 DO tie (n·625 ends in
    # 5 for odd n) and broke the hash; 8000/10000/22050/44100 cannot.
    aiff_rate_hex = F.element_at(
        F.array(
            F.lit("400BFA00000000000000"),  # 8000
            F.lit("400C9C40000000000000"),  # 10000
            F.lit("400DAC44000000000000"),  # 22050
            F.lit("400EAC44000000000000"),  # 44100
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    aiff_frames = (F.col("doc_id") % 9000 + 800).cast("long")
    aiff = F.concat(
        F.unhex(F.lit(
            "464F524D" + "0000001E" + "41494646"  # FORM, size 30, AIFF
            + "434F4D4D" + "00000012"             # COMM, size 18
            + "0001"                              # channels = 1
        )),
        _be4(aiff_frames),
        F.unhex(F.lit("0010")),                   # 16-bit
        F.unhex(aiff_rate_hex),
    )
    # Sun/NeXT .au (round 9): 24-byte big-endian header, encoding 1
    # (G.711 μ-law, 1 byte/sample), declared data size with no payload
    # — certifies the header tier's declared-size sample count
    au_rate = (F.lit(8000) + (F.col("doc_id") % 6) * 1000).cast("long")
    au_n = (F.col("doc_id") % 6000 + 600).cast("long")
    au = F.concat(
        F.unhex(F.lit("2E736E64")),               # .snd
        _be4(F.lit(24)),                          # data offset
        _be4(au_n),                               # data size (1 B/sample)
        _be4(F.lit(1)),                           # encoding: G.711 μ-law
        _be4(au_rate),
        _be4(F.lit(1)),                           # channels
    )
    # MP3 with a Xing VBR header (round 10): MPEG1 Layer III mono
    # frame header (0xFFFB, bitrate idx 9, rate idx doc_id%3 →
    # 44100/48000/32000), 17 zero side-info bytes, then
    # Xing + flags(frames) + frame count — the EXACT-duration tier
    # (frames × 1152 samples), no PCM claim.  Rates are tie-free under
    # round(d, 6): n_samples = 1152·frames is divisible by 4 and 6, so
    # the ·10^6/32000 and /48000 half-tie residues (s≡2 mod 4, s≡3
    # mod 6) are unreachable, and s·10^6 ≡ 22050 (mod 44100) has no
    # solution (gcd 100 ∤ 22050).
    mp3_rate_idx = (F.col("doc_id") % 3).cast("long")
    mp3_frames = (F.col("doc_id") % 2000 + 50).cast("long")
    mp3 = F.concat(
        F.unhex(F.lit("FFFB")),
        F.unhex(F.lpad(F.hex(F.lit(0x90) + mp3_rate_idx * 4), 2, "0")),
        F.unhex(F.lit("C0" + "00" * 17 + "58696E67" + "00000001")),
        _be4(mp3_frames),
    )
    media = (
        docs.select(
            "doc_id",
            png.alias("png"),
            wav.alias("wav"),
            ogg.alias("ogg"),
            opus.alias("opus"),
            m4a.alias("m4a"),
            webm.alias("webm"),
            aiff.alias("aiff"),
            au.alias("au"),
            mp3.alias("mp3"),
            adts_frame_hex.alias("_adts_frame_hex"),
            n_frames.alias("_n_frames"),
        )
        .withColumn("adts", adts)
        .drop("_adts_frame_hex", "_n_frames")
    )
    # one decode_media pass over all ten columns: one MapInPandas over
    # one scan of the constructed media frame, no per-format joins
    audio = ("wav", "ogg", "opus", "m4a", "adts", "aiff", "au", "mp3")
    decoded = decode_media(
        media,
        "doc_id",
        [("png", IMAGE_FEATURES, "png_")]
        + [(c, AUDIO_FEATURES, f"{c}_") for c in audio]
        + [("webm", VIDEO_META, "webm_")],
    )

    def aud_cols(col: str, prefix: str) -> list:
        return [
            F.col(f"{col}_sample_rate").alias(f"{prefix}rate"),
            F.col(f"{col}_n_samples").alias(f"{prefix}samples"),
            F.round(f"{col}_duration_s", 6).alias(f"{prefix}duration_s"),
        ]

    return decoded.select(
        "doc_id",
        F.col("png_width").alias("width"),
        F.col("png_height").alias("height"),
        F.col("png_channels").alias("channels"),
        F.col("wav_sample_rate").alias("sample_rate"),
        F.col("wav_n_samples").alias("n_samples"),
        F.round("wav_duration_s", 6).alias("duration_s"),
        *aud_cols("ogg", "ogg_"),
        *aud_cols("opus", "opus_"),
        *aud_cols("m4a", "m4a_"),
        *aud_cols("adts", "adts_"),
        *aud_cols("aiff", "aiff_"),
        *aud_cols("au", "au_"),
        *aud_cols("mp3", "mp3_"),
        F.col("webm_width"),
        F.col("webm_height"),
        F.round("webm_duration_s", 6).alias("webm_duration_s"),
    )


MULTIMODAL_HEADER_SQL = """
SELECT doc_id,
       CAST(doc_id % 300 + 16 AS INT) AS width,
       CAST(doc_id % 200 + 16 AS INT) AS height,
       3 AS channels,
       CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
       CAST(doc_id % 1000 + 100 AS BIGINT) AS n_samples,
       round((doc_id % 1000 + 100)
               / (8000.0 + (doc_id % 5) * 1000), 6) AS duration_s,
       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS ogg_rate,
       CAST(doc_id % 4000 + 500 AS BIGINT) AS ogg_samples,
       round((doc_id % 4000 + 500)
               / (8000.0 + (doc_id % 4) * 4000), 6) AS ogg_duration_s,
       48000 AS opus_rate,
       CAST(doc_id % 48000 + 4800 AS BIGINT) AS opus_samples,
       round((doc_id % 48000 + 4800) / 48000.0, 6) AS opus_duration_s,
       CAST(16000 + (doc_id % 3) * 8000 AS INT) AS m4a_rate,
       CAST(doc_id % 96000 + 9600 AS BIGINT) AS m4a_samples,
       round((doc_id % 96000 + 9600)
               / CAST(16000 + (doc_id % 3) * 8000 AS DOUBLE), 6)
         AS m4a_duration_s,
       CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 48000
                 WHEN 1 THEN 44100 ELSE 32000 END AS INT) AS adts_rate,
       CAST((doc_id % 5 + 2) * 1024 AS BIGINT) AS adts_samples,
       round((doc_id % 5 + 2) * 1024
               / CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 48000
                      WHEN 1 THEN 44100 ELSE 32000 END AS DOUBLE), 6)
         AS adts_duration_s,
       CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 10000
                 WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS aiff_rate,
       CAST(doc_id % 9000 + 800 AS BIGINT) AS aiff_samples,
       round((doc_id % 9000 + 800)
               / CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000
                      WHEN 1 THEN 10000 WHEN 2 THEN 22050
                      ELSE 44100 END AS DOUBLE), 6) AS aiff_duration_s,
       CAST(8000 + (doc_id % 6) * 1000 AS INT) AS au_rate,
       CAST(doc_id % 6000 + 600 AS BIGINT) AS au_samples,
       round((doc_id % 6000 + 600)
               / CAST(8000 + (doc_id % 6) * 1000 AS DOUBLE), 6)
         AS au_duration_s,
       CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                 WHEN 1 THEN 48000 ELSE 32000 END AS INT) AS mp3_rate,
       CAST((doc_id % 2000 + 50) * 1152 AS BIGINT) AS mp3_samples,
       round((doc_id % 2000 + 50) * 1152
               / CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END AS DOUBLE), 6)
         AS mp3_duration_s,
       CAST(doc_id % 640 + 16 AS INT) AS webm_width,
       CAST(doc_id % 480 + 16 AS INT) AS webm_height,
       round((doc_id % 4000 + 500) / 1000.0, 6) AS webm_duration_s
FROM documents
"""



# ---------------------------------------------------------------------------
# Unpivot (melt) — the inverse of rel_pivot_status
# ---------------------------------------------------------------------------


def rel_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long: melt each part's numeric metrics into (metric,
    value) rows with the native ``unpivot`` operator (SQL ``stack``) —
    the inverse of `rel_pivot_status`. Per-row fan-out only, no
    shuffle; Catalyst prunes unselected metric columns from the scan.
    """
    part = _t(spark, sf_dir, "part")
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    ).select("p_partkey", "metric", F.round(F.col("value"), 2).alias("value"))


REL_UNPIVOT_SQL = """
SELECT p_partkey, 'p_size' AS metric, round(CAST(p_size AS DOUBLE), 2) AS value
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, round(p_retailprice, 2) AS value
FROM part
"""



# ---------------------------------------------------------------------------
# Streaming quarantine routing (PERMISSIVE parse inside a stream)
# ---------------------------------------------------------------------------


def stream_parse_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine pattern under Structured Streaming: dirty JSONL
    shards (same deterministic corruption as `parse_quarantine`) arrive
    through a file-stream source, are routed by a PERMISSIVE
    ``from_json``, and per-(ok, lang) counts aggregate in complete mode
    — what a continuously-ingesting corpus pipeline runs. Bounded input
    driven to completion makes the result equal the batch closed form,
    which the oracle states. State is the (ok, lang) count table —
    tiny, watermark-free by design.
    """
    import shutil
    import tempfile
    import uuid

    docs = _t(spark, sf_dir, "documents")
    valid = F.to_json(
        F.struct(F.col("doc_id").alias("id"), F.col("lang").alias("lang"))
    )
    raw = F.when(F.col("doc_id") % 5 == 0, F.substring(valid, 1, 10)).otherwise(
        valid
    )
    stage = tempfile.mkdtemp(prefix="stream_quarantine_")
    try:
        docs.select(raw.alias("value")).coalesce(2).write.mode(
            "overwrite"
        ).text(stage)
        stream = spark.readStream.format("text").load(stage)
        parsed = F.from_json(
            F.col("value"),
            "id LONG, lang STRING, _bad STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_bad"},
        )
        agg = (
            stream.select(parsed.alias("p"))
            .select(
                F.col("p._bad").isNull().cast("int").alias("ok"),
                F.col("p.lang").alias("parsed_lang"),
            )
            .groupBy("ok", "parsed_lang")
            .agg(F.count("*").alias("n"))
        )
        name = f"stream_quarantine_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name).select("ok", "parsed_lang", "n")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


STREAM_PARSE_QUARANTINE_SQL = """
SELECT CAST(doc_id % 5 <> 0 AS INT) AS ok,
       CASE WHEN doc_id % 5 <> 0 THEN lang END AS parsed_lang,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
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
# Schema evolution: mergeSchema read across dataset generations
# ---------------------------------------------------------------------------


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two dataset generations under one root — generation 1 without a
    ``quality`` column, generation 2 with it — read back in one scan
    with ``mergeSchema``: old rows surface NULL quality, new rows keep
    theirs, and a filter on the evolved column still prunes. This is
    the append-only corpus evolution story (new curation columns arrive
    mid-corpus; no rewrite of old shards).

    Scale note: ``mergeSchema`` reconciles footers at planning time —
    cost scales with file count, not data; production pins the merged
    schema explicitly once known (as any fixed-schema read here would).
    """
    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("evolve", sf_dir)
    out = os.path.join(stage, "gens")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    g1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
    g2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") % 100).cast("int").alias("quality"),
    )
    g1.write.parquet(os.path.join(out, "gen=1"))
    g2.write.parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("quality").alias("n_with_quality"),
        F.coalesce(F.sum("quality"), F.lit(0)).alias("quality_sum"),
    )


SOURCE_SCHEMA_EVOLUTION_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_quality,
       CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 END), 0)
         AS BIGINT) AS quality_sum
FROM documents
GROUP BY lang
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
    from pyspark.sql import Window

    from archive_to_parquet_spark.queries import _BM25_QUERIES

    docs = _t(spark, sf_dir, "documents")
    stage = _stage_dir("searchidx", sf_dir)
    postings_path = os.path.join(stage, "postings")
    doclen_path = os.path.join(stage, "doclen")

    tokens = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
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
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_counts), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score",
        )
    )




# ---------------------------------------------------------------------------
# Distributed model training: logistic regression, bit-exact
# ---------------------------------------------------------------------------

_LOGREG_ROUNDS = 5
_LOGREG_LR = 10.0


def train_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed supervised training, oracle-exact: a logistic
    regression predicting the corpus's length gate (``n_chars >= 300``
    — the only label the synthetic corpus makes learnable: its ``lang``
    column is uncorrelated with the text) from capped text features
    (bias, word count, mean word length, char length), trained with
    full-batch gradient descent. The demonstration is the MACHINERY —
    distributed GD recovering a separating rule bit-exactly — not
    feature engineering.

    The fasttext-style quality/language classifier pattern at corpus
    scale: each round is ONE map-side-combinable aggregation over the
    corpus (per-feature gradient sums); weights are vocabulary-sized
    driver state (the bpe_merge_rounds / kmeans precedent). Bit-exact
    across engines by the integer discipline: features and per-row
    gradients are integer micro-units (so gradient SUMS are exact in
    any order), weights are integers, and the only transcendental
    (sigmoid) is integerized per row immediately after evaluation.
    Returns one row: final weights (micro-units), n_rows, and training
    accuracy by sign check (z >= 0 — no float rounding in the metric).
    """
    docs = _t(spark, sf_dir, "documents")
    words = F.array_remove(F.split(F.lower("text"), r"\s+"), "")
    n_words = F.greatest(F.size(words), F.lit(1)).cast("double")

    def e6(col):
        return F.round(col * 1e6, 0).cast("long")

    raw = docs.select(
        (F.length("text") >= 300).cast("int").alias("y"),
        e6(F.least(n_words, F.lit(200.0)) / 200.0).alias("x1"),
        e6(
            F.least(F.length("text") / n_words, F.lit(20.0)) / 20.0
        ).alias("x2"),
        e6(F.least(F.length("text"), F.lit(1000)) / 1000.0).alias("x3"),
    ).localCheckpoint()
    # center the non-bias features on the corpus mean (one distributed
    # agg; integer half-up means so both engines center identically) —
    # uncentered all-positive features make full-batch GD crawl: the
    # separating rule then lives almost entirely in the intercept
    mrow = raw.agg(
        *[
            F.expr(f"(2 * sum(x{k}) + count(*)) div (2 * count(*))").alias(
                f"m{k}"
            )
            for k in (1, 2, 3)
        ]
    ).first()
    feats = raw.select(
        "y",
        F.lit(1000000).cast("long").alias("x0"),
        *[
            (F.col(f"x{k}") - F.lit(int(mrow[f"m{k}"]))).alias(f"x{k}")
            for k in (1, 2, 3)
        ],
    )

    ks = range(4)
    w = [0, 0, 0, 0]  # integer micro-units
    n_rows = None
    for _ in range(_LOGREG_ROUNDS):
        z = sum(
            (F.lit(w[k]) / F.lit(1e6)) * (F.col(f"x{k}") / F.lit(1e6))
            for k in ks
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        aggs = [
            F.sum(
                F.round((p - F.col("y")) * (F.col(f"x{k}") / 1e6) * 1e6, 0)
            ).cast("long").alias(f"g{k}")
            for k in ks
        ]
        row = feats.agg(F.count("*").alias("n"), *aggs).first()
        n_rows = row["n"]
        w = [
            w[k] - int(round(_LOGREG_LR * row[f"g{k}"] / n_rows))
            for k in ks
        ]
    zf = sum(
        (F.lit(w[k]) / F.lit(1e6)) * (F.col(f"x{k}") / F.lit(1e6)) for k in ks
    )
    acc = feats.agg(
        F.sum(((zf >= 0).cast("int") == F.col("y")).cast("int")).alias(
            "n_correct"
        )
    ).first()["n_correct"]
    return spark.createDataFrame(
        [(w[0], w[1], w[2], w[3], n_rows, acc)],
        "w0_e6 long, w1_e6 long, w2_e6 long, w3_e6 long, "
        "n_rows long, n_correct long",
    )


def _logreg_oracle_sql() -> str:
    ks = range(4)
    nw = (
        "greatest(len(list_filter(string_split_regex(lower(text), "
        "'\\s+'), w -> w <> '')), 1)"
    )

    def z(wtbl):
        return " + ".join(
            f"({wtbl}.w{k} / 1e6) * (f.x{k} / 1e6)" for k in ks
        )

    sql = f"""
WITH raw_feats AS (
  SELECT CAST(length(text) >= 300 AS INT) AS y,
         CAST(1000000 AS BIGINT) AS x0,
         CAST(round(least({nw}, 200) / 200.0 * 1e6) AS BIGINT) AS x1,
         CAST(round(least(length(text) / CAST({nw} AS DOUBLE), 20.0)
             / 20.0 * 1e6) AS BIGINT) AS x2,
         CAST(round(least(length(text), 1000) / 1000.0 * 1e6)
           AS BIGINT) AS x3
  FROM documents
), means AS (
  SELECT CAST((2 * SUM(x1) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m1,
         CAST((2 * SUM(x2) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m2,
         CAST((2 * SUM(x3) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m3
  FROM raw_feats
), feats AS (
  SELECT y, x0, x1 - m1 AS x1, x2 - m2 AS x2, x3 - m3 AS x3
  FROM raw_feats, means
), n AS (SELECT COUNT(*) AS n FROM feats),
w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)
"""
    prev = "w0"
    for r in range(1, _LOGREG_ROUNDS + 1):
        gsel = ", ".join(
            f"CAST(SUM(round(((1.0 / (1.0 + exp(-({z(prev)})))) - f.y)"
            f" * (f.x{k} / 1e6) * 1e6)) AS BIGINT) AS g{k}"
            for k in ks
        )
        wsel = ", ".join(
            f"CAST({prev}.w{k} - round({_LOGREG_LR} * g.g{k} / n.n) AS BIGINT)"
            f" AS w{k}"
            for k in ks
        )
        sql += f""", g{r} AS (
  SELECT {gsel} FROM feats f, {prev}
), w{r} AS (
  SELECT {wsel} FROM g{r} g, {prev}, n
)
"""
        prev = f"w{r}"
    zf = z(prev)
    sql += f"""
SELECT {prev}.w0 AS w0_e6, {prev}.w1 AS w1_e6, {prev}.w2 AS w2_e6,
       {prev}.w3 AS w3_e6, n.n AS n_rows,
       (SELECT CAST(SUM(CAST((CAST(({zf}) >= 0 AS INT)) = f.y AS INT))
          AS BIGINT) FROM feats f, {prev}) AS n_correct
FROM {prev}, n
"""
    return sql



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
    from archive_to_parquet_spark.queries import _bm25_relevance, search_bm25

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
    from archive_to_parquet_spark.queries import (
        _BM25_QUERIES,
        SEARCH_BM25_SQL,
    )

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
# Privacy: k-anonymity audit + suppression
# ---------------------------------------------------------------------------


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the quasi-identifier pair (lang, source): every
    equivalence class smaller than k=5 is SUPPRESSED (its identifiers
    generalized to '*'), the rest released as-is — the
    compliance-release step that complements `text_pii_redact` (cell
    content) with group-level protection. Output is the released
    class table: identifiers, class size, and suppression flag; the
    suppressed remainder is pooled into one '*' row so the release
    still accounts for every document.

    Scale: one groupBy on the quasi-identifier tuple with map-side
    partials + a re-agg of the (tiny) suppressed classes. k-anonymity
    at 100 TB is exactly this shape — the class table is orders of
    magnitude smaller than the corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(
        F.count("*").alias("class_size")
    )
    released = classes.filter(F.col("class_size") >= 5).select(
        "lang", "source", "class_size", F.lit(0).alias("suppressed")
    )
    pooled = (
        classes.filter(F.col("class_size") < 5)
        .agg(F.coalesce(F.sum("class_size"), F.lit(0)).alias("class_size"))
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            "class_size",
            F.lit(1).alias("suppressed"),
        )
        .filter(F.col("class_size") > 0)
    )
    return released.unionByName(pooled)


PRIVACY_K_ANON_SQL = """
WITH classes AS (
  SELECT lang, source, COUNT(*) AS class_size
  FROM documents GROUP BY lang, source
)
SELECT lang, source, class_size, 0 AS suppressed
FROM classes WHERE class_size >= 5
UNION ALL
SELECT '*', '*', CAST(SUM(class_size) AS BIGINT), 1
FROM classes WHERE class_size < 5
HAVING SUM(class_size) > 0
"""



# ---------------------------------------------------------------------------
# Readability scoring (Flesch heuristic)
# ---------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regex counts —
    words, sentences, vowel-group "syllables" — the classic readability
    quality signal. 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words); all inputs are integer counts, so the
    score is the same double on both engines (rounded 4dp). Pure
    per-row JVM regex, no shuffle. The regexes are shared verbatim
    with the oracle (Java-regex/RE2 common subset).
    """
    from archive_to_parquet_spark.operators.profiling import flesch_readability

    docs = _t(spark, sf_dir, "documents")
    return flesch_readability(docs, text_col="text", keep_cols=["doc_id"])


TEXT_READABILITY_SQL = """
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
       greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
       len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables,
       round(206.835
             - 1.015 * (CAST(greatest(len(regexp_extract_all(lower(text),
                 '[a-z0-9]+')), 1) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
             - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                 '[aeiouy]+')) AS DOUBLE)
                 / greatest(len(regexp_extract_all(lower(text),
                     '[a-z0-9]+')), 1)), 4) AS flesch
FROM documents
"""


# ---------------------------------------------------------------------------
# Data-quality audit: Benford first-digit distribution
# ---------------------------------------------------------------------------

def audit_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of l_extendedprice — thin wrapper over
    ``operators.profiling.benford_first_digit`` (observed vs expected
    first-digit rates in integer nano-units)."""
    from archive_to_parquet_spark.operators.profiling import benford_first_digit

    return benford_first_digit(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


AUDIT_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM lineitem
), counts AS (
  SELECT digit, COUNT(*) AS n FROM d WHERE digit >= 1 GROUP BY digit
), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
e(digit, expected_e9) AS (VALUES (1, 301029996), (2, 176091259), (3, 124938737), (4, 96910013), (5, 79181246), (6, 66946790), (7, 57991947), (8, 51152522), (9, 45757491))
SELECT c.digit, c.n,
       (2 * c.n * 1000000000 + t.total) // (2 * t.total) AS observed_e9,
       e.expected_e9,
       abs((2 * c.n * 1000000000 + t.total) // (2 * t.total)
           - e.expected_e9) AS gap_e9
FROM counts c, t
JOIN e ON e.digit = c.digit
"""


# search_index_probe's oracle is SEARCH_BM25_SQL (identical output
# contract); queries.py patches it in after the merge — a module-level
# import here would be circular.
CATALOG = {
    "source_jsonl_roundtrip": (source_jsonl_roundtrip, SOURCE_JSONL_SQL),
    "source_csv_roundtrip": (source_csv_roundtrip, SOURCE_CSV_SQL),
    "parse_quarantine": (parse_quarantine, PARSE_QUARANTINE_SQL),
    "dedup_url_canonical": (dedup_url_canonical, DEDUP_URL_SQL),
    "rel_decayed_sum": (rel_decayed_sum, REL_DECAYED_SUM_SQL),
    "curation_domain_cap": (curation_domain_cap, CURATION_DOMAIN_CAP_SQL),
    "rel_gapfill_hourly": (rel_gapfill_hourly, REL_GAPFILL_SQL),
    "source_orc_roundtrip": (source_orc_roundtrip, SOURCE_ORC_SQL),
    "source_partitioned_pruning": (
        source_partitioned_pruning,
        SOURCE_PARTITIONED_SQL,
    ),
    "tokenize_bpe_encode": (tokenize_bpe_encode, _bpe_encode_oracle_sql()),
    "source_dpp_join": (source_dpp_join, SOURCE_DPP_SQL),
    "ann_pq_topk": (ann_pq_topk, ANN_PQ_SQL),
    "ann_ivf_pq_topk": (ann_ivf_pq_topk, ANN_IVF_PQ_SQL),
    "cluster_kmeans": (cluster_kmeans, _kmeans_oracle_sql()),
    "chunk_documents": (chunk_documents, CHUNK_DOCUMENTS_SQL),
    "text_tfidf_terms": (text_tfidf_terms, TEXT_TFIDF_SQL),
    "decontaminate_semantic": (
        decontaminate_semantic,
        DECONTAMINATE_SEMANTIC_SQL,
    ),
    "rel_session_window_native": (
        rel_session_window_native,
        REL_SESSION_WINDOW_SQL,
    ),
    "multimodal_header_decode": (
        multimodal_header_decode,
        MULTIMODAL_HEADER_SQL,
    ),
    "rel_unpivot_part_metrics": (
        rel_unpivot_part_metrics,
        REL_UNPIVOT_SQL,
    ),
    "stream_parse_quarantine": (
        stream_parse_quarantine,
        STREAM_PARSE_QUARANTINE_SQL,
    ),
    "cluster_dbscan": (cluster_dbscan, CLUSTER_DBSCAN_SQL),
    # Same closed-form oracle: the LSH path must reproduce the exact
    # baseline's labeling bit-for-bit (recall verified 100% at every SF).
    "cluster_dbscan_lsh": (cluster_dbscan_lsh, CLUSTER_DBSCAN_SQL),
    "source_schema_evolution": (
        source_schema_evolution,
        SOURCE_SCHEMA_EVOLUTION_SQL,
    ),
    "search_index_probe": (search_index_probe, None),
    "train_logreg_quality": (train_logreg_quality, _logreg_oracle_sql()),
    "eval_ndcg_bm25": (eval_ndcg_bm25, None),
    "privacy_k_anonymity": (privacy_k_anonymity, PRIVACY_K_ANON_SQL),
    "text_readability": (text_readability, TEXT_READABILITY_SQL),
    "audit_benford_prices": (audit_benford_prices, AUDIT_BENFORD_SQL),
}
