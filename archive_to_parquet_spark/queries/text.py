"""Text family: the training-data curation operators over
``documents`` — quality signals, language ID, tokenization, n-gram and
LM scoring, PII redaction, HTML extraction, decontamination, sampling,
splits, mixing, packing, chunking and the quality-classifier
evaluations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.text import (
    STOPWORDS,
    stopword_pattern,
    token_count_col,
    words_col,
)
from archive_to_parquet_spark.operators.candidates import top_k
from archive_to_parquet_spark.queries.relational import _t


def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus — explode → count → top-k
    with deterministic (count desc, gram asc) order."""
    from archive_to_parquet_spark.functions.text import word_ngrams_col

    docs = _t(spark, sf_dir, "documents")
    bigrams = word_ngrams_col("text", 2)
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .filter(F.length("bigram") > 0)
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


TEXT_BIGRAM_SQL = r"""
WITH w AS (
  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), b AS (
  SELECT unnest([array_to_string(words[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(words) - 1, 1))]) AS bigram
  FROM w
)
SELECT bigram, COUNT(*) AS n FROM b WHERE length(bigram) > 0
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, punctuation/alpha ratios, mean word
    length — all whole-stage-codegen expressions."""
    from archive_to_parquet_spark.functions.text import quality_score_cols

    docs = _t(spark, sf_dir, "documents")
    q = quality_score_cols("text")
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
    )


TEXT_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
       round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
             / greatest(length(text), 1), 6) AS alpha_ratio,
       round(length(text) * 1.0
             / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS mean_word_len
FROM documents
"""


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col("text", "whitespace").alias("ws_tokens"),
        token_count_col("text", "bpe").alias("bpe_tokens"),
    )


# TOKEN_REGEX shared with functions/text.py
TEXT_TOKENS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID; ties break toward the earlier
    language code; 'und' when no stopword matches."""
    from archive_to_parquet_spark.functions.text import language_id_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", language_id_col("text").alias("lang_guess")
    )


def _lang_id_oracle_sql() -> str:
    langs = sorted(STOPWORDS)  # de, en, es, fr, zh
    hits = ",\n         ".join(
        "len(regexp_extract_all(text, '{p}')) AS h_{l}".format(
            p=stopword_pattern(lang).replace("'", "''"), l=lang
        )
        for lang in langs
    )
    # earliest-lang tiebreak: check langs in order, each >= all later ones
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= h_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "\n           ".join(cases)
    greatest = ", ".join(f"h_{lang}" for lang in langs)
    return f"""
WITH h AS (
  SELECT doc_id, lang,
         {hits}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest({greatest}) <= 0 THEN 'und'
           {case_sql}
       END AS lang_guess
FROM h
"""


TEXT_LANG_ID_SQL = _lang_id_oracle_sql()


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text
    (the SQL-checkable twin of the xxhash64 fingerprint in
    functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(normalized.cast("binary")).alias("fp"))


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 quality-filter signals per document (Rae et al. 2021
    §A1.1; Raffel et al. 2020 §2.2): word/line repetition, symbol and
    bullet ratios, required-stopword gate, and the combined
    ``gopher_pass`` verdict. Pure JVM expressions — one scan, no
    shuffle, no Python."""
    from archive_to_parquet_spark.functions.text import gopher_quality_cols

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality_cols("text")
    return docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        F.round(q["frac_alpha_words"], 6).alias("frac_alpha_words"),
        F.round(q["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        q["req_stopwords"].alias("req_stopwords"),
        q["n_lines"].alias("n_lines"),
        F.round(q["frac_dup_lines"], 6).alias("frac_dup_lines"),
        F.round(q["frac_chars_dup_lines"], 6).alias("frac_chars_dup_lines"),
        F.round(q["frac_bullet_lines"], 6).alias("frac_bullet_lines"),
        F.round(q["frac_ellipsis_lines"], 6).alias("frac_ellipsis_lines"),
        F.round(q["frac_lines_end_punct"], 6).alias("frac_lines_end_punct"),
        q["gopher_pass"].cast("int").alias("gopher_pass"),
    )


TEXT_GOPHER_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
), base AS (
  SELECT doc_id,
         CAST(len(words) AS INT) AS n_words,
         greatest(len(words), 1) AS safe_words,
         coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS word_chars,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_symbols,
         CAST(len(list_intersect(list_transform(words, x -> lower(x)),
              ['the','be','to','of','and','that','have','with'])) AS INT)
           AS req_stopwords
  FROM w
), l AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE trim(line) <> ''
), lagg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(length(line)) AS line_chars,
         sum(CASE WHEN regexp_matches(line, '^\s*[-*•]') THEN 1 ELSE 0 END)
           AS bullet_lines,
         sum(CASE WHEN regexp_matches(line, '(\.\.\.|…)\s*$') THEN 1 ELSE 0 END)
           AS ellipsis_lines,
         sum(CASE WHEN regexp_matches(line, '[.!?"'']\s*$') THEN 1 ELSE 0 END)
           AS endpunct_lines
  FROM l GROUP BY doc_id
), ldup AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_line_occ,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_line_chars
  FROM (SELECT doc_id, line, count(*) AS c FROM l GROUP BY doc_id, line)
  GROUP BY doc_id
), j AS (
  SELECT b.doc_id, b.n_words, b.safe_words, b.word_chars, b.alpha_words,
         b.n_symbols, b.req_stopwords,
         coalesce(g.n_lines, 0) AS n_lines,
         greatest(coalesce(g.n_lines, 0), 1) AS safe_lines,
         greatest(coalesce(g.line_chars, 0), 1) AS safe_line_chars,
         coalesce(g.bullet_lines, 0) AS bullet_lines,
         coalesce(g.ellipsis_lines, 0) AS ellipsis_lines,
         coalesce(g.endpunct_lines, 0) AS endpunct_lines,
         coalesce(d.dup_line_occ, 0) AS dup_line_occ,
         coalesce(d.dup_line_chars, 0) AS dup_line_chars
  FROM base b
  LEFT JOIN lagg g ON b.doc_id = g.doc_id
  LEFT JOIN ldup d ON b.doc_id = d.doc_id
)
SELECT doc_id, n_words,
       round(word_chars * 1.0 / safe_words, 6) AS mean_word_len,
       round(alpha_words * 1.0 / safe_words, 6) AS frac_alpha_words,
       round(n_symbols * 1.0 / safe_words, 6) AS symbol_word_ratio,
       req_stopwords,
       CAST(n_lines AS INT) AS n_lines,
       round(dup_line_occ * 1.0 / safe_lines, 6) AS frac_dup_lines,
       round(dup_line_chars * 1.0 / safe_line_chars, 6) AS frac_chars_dup_lines,
       round(bullet_lines * 1.0 / safe_lines, 6) AS frac_bullet_lines,
       round(ellipsis_lines * 1.0 / safe_lines, 6) AS frac_ellipsis_lines,
       round(endpunct_lines * 1.0 / safe_lines, 6) AS frac_lines_end_punct,
       CAST(n_words BETWEEN 50 AND 100000
            AND word_chars * 1.0 / safe_words BETWEEN 3 AND 10
            AND n_symbols * 1.0 / safe_words < 0.1
            AND bullet_lines * 1.0 / safe_lines < 0.9
            AND ellipsis_lines * 1.0 / safe_lines < 0.3
            AND alpha_words * 1.0 / safe_words > 0.8
            AND req_stopwords >= 2
            AND dup_line_occ * 1.0 / safe_lines < 0.3
            AND dup_line_chars * 1.0 / safe_line_chars < 0.2 AS INT)
         AS gopher_pass
FROM j
"""


def text_topgram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's top-n-gram repetition signal: the fraction of document
    characters covered by occurrences of the most frequent word 2-gram
    (count × gram length / doc chars). Ties break toward the
    lexicographically smallest gram (deterministic).

    Plan: explode 2-gram shingles → two-level hash agg (doc_id, gram)
    then (doc_id) with min_by — both map-side partial, shuffle keyed on
    (doc_id, gram) / doc_id only — then a broadcast-eligible join back
    to doc lengths. No window over unpartitioned data; scales linearly
    in total shingle count."""
    from archive_to_parquet_spark.functions.text import word_ngrams_col
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    # round 11 (guide §2.5): the shingle explode is the entry's only
    # corpus-sized map work; a single-split scan pins it to one core
    # (0.8 s single-task stage at sf0.1). No-op on a wide scan.
    grams = spread_small_scan(docs, "doc_id").select(
        "doc_id", F.explode(word_ngrams_col("text", 2)).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    top = counts.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("gram"), F.col("c")),
            F.struct((-F.col("c")).alias("nc"), F.col("gram").alias("g")),
        ).alias("t")
    )
    return (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("t.gram"), F.lit("")).alias("top_gram"),
            F.coalesce(F.col("t.c"), F.lit(0)).cast("long").alias("top_count"),
            F.round(
                F.coalesce(F.col("t.c") * F.length("t.gram"), F.lit(0)).cast(
                    "double"
                )
                / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("frac_chars_top_2gram"),
        )
    )


TEXT_TOPGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), wo AS (
  SELECT doc_id, unnest(words) AS word, generate_subscripts(words, 1) AS ord
  FROM w WHERE len(words) >= 2
), grams AS (
  SELECT a.doc_id, a.word || ' ' || b.word AS gram
  FROM wo a JOIN wo b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  UNION ALL
  SELECT doc_id, words[1] AS gram FROM w WHERE len(words) = 1
), cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
), top AS (
  SELECT doc_id, gram, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
  FROM cnt
)
SELECT w.doc_id,
       coalesce(t.gram, '') AS top_gram,
       coalesce(t.c, 0) AS top_count,
       round(coalesce(t.c * length(t.gram), 0) * 1.0
             / greatest(w.n_chars, 1), 6) AS frac_chars_top_2gram
FROM w LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON w.doc_id = t.doc_id
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email / phone / dotted-quad IP) as
    pure regex column expressions. The synthetic corpus contains no PII,
    so the query first augments each document with deterministic
    doc_id-derived PII strings — built identically in the DuckDB oracle
    — making the hash compare exercise real matches and the exact
    redacted output, not just zeros."""
    from archive_to_parquet_spark.functions.text import (
        pii_count_cols,
        redact_pii_col,
    )

    docs = _t(spark, sf_dir, "documents")
    augmented = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 tel 555-"),
        F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 31) % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", augmented.alias("aug"))
    counts = pii_count_cols("aug")
    return aug.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ipv4"].alias("n_ipv4"),
        redact_pii_col("aug").alias("redacted"),
    )


TEXT_PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 10.'
              || (doc_id % 256) || '.0.1 tel 555-'
              || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(aug, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT)
         AS n_phone,
       CAST(len(regexp_extract_all(aug, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT)
         AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
FROM aug
"""


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) plus a stratified
    per-language sample over documents — both keyed on md5-hex-prefix
    uniforms, so the oracle reproduces every per-row decision exactly
    (operators/sampling.py; the engine-portable twin of df.sample /
    df.sampleBy, which are partitioning-dependent)."""
    from archive_to_parquet_spark.operators.sampling import (
        hash_split_col,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.1}
    )
    return docs.select(
        "doc_id",
        "lang",
        hash_split_col("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
        kept.cast("int").alias("kept_stratified"),
    )


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: global rank of
    md5('shuffle' || doc_id) via two-phase distributed rank
    (operators/sampling.py global_shuffle_rank — range partition +
    per-partition offsets, no single-partition WindowExec). The oracle
    is a plain ORDER BY row_number over the same md5 — two totally
    different rank plans must produce the identical permutation."""
    from archive_to_parquet_spark.operators.sampling import global_shuffle_rank

    docs = _t(spark, sf_dir, "documents")
    return global_shuffle_rank(docs, "doc_id", seed="shuffle").select(
        "doc_id", "shuffle_pos"
    )


CORPUS_SHUFFLE_SQL = """
SELECT doc_id,
       row_number() OVER (
         ORDER BY md5('shuffle' || CAST(doc_id AS VARCHAR)), doc_id
       ) - 1 AS shuffle_pos
FROM documents
"""


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build + per-document coverage: top-16
    tokens by corpus frequency (ties broken by token — deterministic),
    then each document's in-vocab token count and OOV rate via a
    broadcast semi-mark join.

    Scale: token counts are one map-side-combined shuffle on token;
    top-K with small K is a per-partition partial top-K merged on the
    driver (TakeOrderedAndProject — no global sort of the vocabulary);
    the vocab then broadcasts, so per-doc coverage adds NO shuffle on
    the corpus side beyond the per-doc agg."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(words_col(F.lower("text"))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(16)
        .select("tok", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("iv", F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            # integer parts-per-million, not a float rate: the oracle
            # compare hashes pandas values, and any float column risks
            # engine-repr drift (DuckDB HUGEINT sums surface as float64)
            F.expr(
                "((n_tokens - n_in_vocab) * 1000000L) div n_tokens"
            ).alias("oov_ppm"),
        )
    )


VOCAB_COVERAGE_SQL = r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), c AS (
  SELECT tok, count(*) AS n FROM t GROUP BY tok
), v AS (
  SELECT tok FROM c ORDER BY n DESC, tok LIMIT 16
), g AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_in_vocab
  FROM t LEFT JOIN v ON t.tok = v.tok
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_in_vocab,
       CAST((n_tokens - n_in_vocab) * 1000000 // n_tokens AS BIGINT)
         AS oov_ppm
FROM g
"""


SAMPLE_SPLIT_SQL = """
WITH u AS (
  SELECT doc_id, lang,
         substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS u_split,
         substring(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) AS u_strata
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN u_split < '{t80}' THEN 'train'
            WHEN u_split < '{t90}' THEN 'val'
            ELSE 'test' END AS split,
       CAST(u_strata < CASE lang WHEN 'en' THEN '{ten}'
                                 WHEN 'de' THEN '{tde}'
                                 WHEN 'fr' THEN '{tfr}'
                                 ELSE '{tzero}' END AS INT) AS kept_stratified
FROM u
"""


def _sample_split_oracle_sql() -> str:
    from archive_to_parquet_spark.operators.sampling import hex_threshold

    return SAMPLE_SPLIT_SQL.format(
        t80=hex_threshold(0.8),
        t90=hex_threshold(0.9),
        ten=hex_threshold(0.5),
        tde=hex_threshold(0.25),
        tfr=hex_threshold(0.1),
        tzero=hex_threshold(0.0),
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination over documents: the "benchmark"
    is the deterministic doc_id % 20 == 0 slice; every document is
    flagged with its count of distinct 5-gram overlaps with that slice
    (operators/dedup.py decontaminate — broadcast the benchmark gram
    set, stream the corpus once)."""
    from archive_to_parquet_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, "doc_id", "text", shingle_n=5).orderBy(
        "doc_id"
    )


DECONTAMINATE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        for i in generate_series(1, greatest(len(words) - 4, 1))])
           AS grams
  FROM w WHERE len(words) > 0
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), bg AS (
  SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0
), ov AS (
  SELECT e.doc_id, count(*) AS n_overlap FROM e JOIN bg USING (gram)
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(ov.n_overlap, 0) AS n_overlap_grams,
       CAST(coalesce(ov.n_overlap, 0) >= 1 AS INT) AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
ORDER BY d.doc_id
"""


def crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span repetition over documents: per doc, the
    count and fraction of its distinct 5-gram set occurring in ≥2 docs
    corpus-wide (operators/dedup.py crossdoc_span_stats — inverted
    gram index, no doc×doc pairs)."""
    from archive_to_parquet_spark.operators.dedup import crossdoc_span_stats

    docs = _t(spark, sf_dir, "documents")
    return crossdoc_span_stats(docs, "doc_id", "text", shingle_n=5, min_df=2)


CROSSDOC_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        for i in generate_series(1, greatest(len(words) - 4, 1))])
           AS grams
  FROM w WHERE len(words) > 0
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), dfreq AS (
  SELECT gram, count(*) AS df FROM e GROUP BY gram
), shared AS (
  SELECT e.doc_id, count(*) AS n_shared
  FROM e JOIN dfreq USING (gram) WHERE dfreq.df >= 2
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(len(g.grams), 0) AS INT) AS n_grams,
       coalesce(s.n_shared, 0) AS n_shared_grams,
       round(coalesce(s.n_shared, 0) * 1.0
             / greatest(coalesce(len(g.grams), 0), 1), 6) AS frac_shared_grams
FROM documents d
LEFT JOIN g ON d.doc_id = g.doc_id
LEFT JOIN shared s ON d.doc_id = s.doc_id
"""


def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + domain-level curation rollup: build a
    deterministic URL per document (from source/doc_id/lang), extract
    host / registrable domain / query param with the JVM ``parse_url``
    expression (functions/web.py), drop blocklisted domains, and roll
    up per (domain, host). The oracle re-derives the same components
    with independent regex/string functions in DuckDB — two different
    URL parsers must agree.

    Scale: everything before the groupBy is a per-row expression (no
    shuffle); the rollup shuffles once on (domain, host) with map-side
    partials. A domain blocklist of literals compiles to a hash-set
    probe; see functions/web.py for the broadcast-join form at
    million-entry blocklist scale."""
    from archive_to_parquet_spark.functions.web import (
        domain_blocked,
        registrable_domain,
        url_host,
        url_query_param,
    )

    docs = _t(spark, sf_dir, "documents")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        tld,
        F.lit("/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
    )
    parsed = docs.select(
        F.col("doc_id"),
        F.col("n_chars"),
        url.alias("url"),
        url_host(url).alias("host"),
        url_query_param(url, "lang").alias("url_lang"),
    ).withColumn("domain", registrable_domain(F.col("host")))
    kept = parsed.filter(~domain_blocked(F.col("domain"), ("example.net",)))
    return (
        kept.groupBy("domain", "host")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("url_lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("domain", "host")
    )


WEB_DOMAIN_SQL = r"""
WITH u AS (
  SELECT doc_id, n_chars,
         'https://' || source || '.example.' ||
           ['com','org','net'][CAST(doc_id % 3 AS INT) + 1] ||
           '/docs/' || doc_id || '?lang=' || lang AS url
  FROM documents
), p AS (
  SELECT doc_id, n_chars,
         regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
         regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS url_lang
  FROM u
), d AS (
  SELECT *,
         CASE WHEN len(string_split(host, '.')) <= 2 THEN host
              ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         END AS domain
  FROM p
)
SELECT domain, host,
       count(*) AS n_docs,
       count(DISTINCT url_lang) AS n_langs,
       round(avg(n_chars), 2) AS avg_chars
FROM d
WHERE domain NOT IN ('example.net')
GROUP BY domain, host
ORDER BY domain, host
"""


def filter_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold quality filtering: keep documents whose
    length lies inside the corpus [p5, p95] band AND whose stopword
    ratio is at or above the corpus median — the standard two-pass
    distribution-relative filter (absolute thresholds drift across
    corpora; percentile bands self-calibrate).

    Pass 1 computes the exact interpolated percentiles as ONE single-row
    aggregate (``percentile`` — exact, matching DuckDB quantile_cont);
    pass 2 broadcasts that row via crossJoin (Catalyst folds a 1-row
    broadcast nested loop — no driver collect, no shuffle) and filters.
    Emits per-doc signals plus the cut values so the oracle certifies
    both the band arithmetic and the survivor set."""
    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        (
            _stopword_hits_expr(F.col("text")).cast("double")
            / F.greatest(
                F.size(words_col("text")),
                F.lit(1),
            )
        ).alias("stop_ratio"),
    )
    cuts = sig.agg(
        F.percentile("n_chars_text", 0.05).alias("p05"),
        F.percentile("n_chars_text", 0.95).alias("p95"),
        F.percentile("stop_ratio", 0.5).alias("stop_med"),
    )
    return (
        sig.crossJoin(F.broadcast(cuts))
        .filter(
            # compare at the emitted rounding so an interpolation ulp
            # can't flip a boundary doc across engines
            (F.col("n_chars_text") >= F.round("p05", 2))
            & (F.col("n_chars_text") <= F.round("p95", 2))
            & (F.round("stop_ratio", 6) >= F.round("stop_med", 6))
        )
        .select(
            "doc_id",
            "n_chars_text",
            F.round("stop_ratio", 6).alias("stop_ratio"),
            F.round("p05", 2).alias("p05"),
            F.round("p95", 2).alias("p95"),
            F.round("stop_med", 6).alias("stop_med"),
        )
    )


def _stopword_hits_expr(col: Column) -> Column:
    from archive_to_parquet_spark.functions.text import _stopword_hits

    return _stopword_hits(col, "en")


FILTER_QUANTILE_SQL = r"""
WITH sig AS (
  SELECT doc_id,
         len(text) AS n_chars_text,
         len(regexp_extract_all(text, '{stop_re}')) * 1.0
           / greatest(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')), 1) AS stop_ratio
  FROM documents
), cuts AS (
  SELECT quantile_cont(n_chars_text, 0.05) AS p05,
         quantile_cont(n_chars_text, 0.95) AS p95,
         quantile_cont(stop_ratio, 0.5) AS stop_med
  FROM sig
)
SELECT doc_id, n_chars_text,
       round(stop_ratio, 6) AS stop_ratio,
       round(p05, 2) AS p05,
       round(p95, 2) AS p95,
       round(stop_med, 6) AS stop_med
FROM sig, cuts
WHERE n_chars_text >= round(p05, 2) AND n_chars_text <= round(p95, 2)
  AND round(stop_ratio, 6) >= round(stop_med, 6)
""".format(stop_re=stopword_pattern("en").replace("'", "''"))


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing of documents into
    1024-token contexts, sharded by source (operators/sampling.py
    pack_sequences): per-doc placement (offset, chunk span, boundary
    straddle). The window is PARTITIONED by shard — per-shard cumsums
    are independent, so there is no global sort and no
    single-partition WindowExec at any scale."""
    from archive_to_parquet_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", token_count_col("text", "whitespace").alias("nt")
    )
    return pack_sequences(with_tokens, "doc_id", "nt", 1024, "source")


PACK_SEQUENCES_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt
  FROM documents
), c AS (
  -- window SUM over integers is HUGEINT in DuckDB (pandas float64);
  -- cast back to BIGINT so the value-hash sees the same ints as Spark
  SELECT doc_id, source AS shard, nt,
         CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
  FROM t
)
SELECT doc_id, shard, nt AS n_tokens,
       CAST(cum_end - nt AS BIGINT) AS token_offset,
       CAST((cum_end - nt) // 1024 AS BIGINT) AS start_chunk,
       CAST(greatest(cum_end - 1, cum_end - nt) // 1024 AS BIGINT) AS end_chunk,
       CAST((cum_end - nt) % 1024 AS BIGINT) AS offset_in_chunk,
       CAST((cum_end - nt) // 1024 <> greatest(cum_end - 1, cum_end - nt) // 1024
            AS INT) AS spans_boundary
FROM c
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    build actually runs, as ONE declarative plan: Gopher-style quality
    gate (word count / mean word length / alpha fraction / required
    stopwords) → deterministic near-dup collapse on a 5-word prefix
    fingerprint (keep min doc_id per key; one shuffle) → deterministic
    train/val/test split. Every stage is the oracle-checked operator
    from its own catalog entry; this entry proves they compose without
    semantic drift. Catalyst fuses the gate into the scan and the split
    into the dedup output — 2 stages total."""
    from archive_to_parquet_spark.functions.text import gopher_quality_cols
    from archive_to_parquet_spark.operators.dedup import (
        dedup_exact_deterministic,
    )
    from archive_to_parquet_spark.operators.sampling import hash_split_col

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality_cols("text")
    gated = docs.select(
        "doc_id",
        "text",
        q["n_words"].alias("n_words"),
        q["mean_word_len"].alias("mwl"),
        q["frac_alpha_words"].alias("faw"),
        q["req_stopwords"].alias("rsw"),
    ).filter(
        (F.col("n_words") >= 30)
        & (F.col("mwl") >= 3)
        & (F.col("mwl") <= 10)
        & (F.col("faw") > 0.7)
        & (F.col("rsw") >= 1)
    )
    words = words_col(F.lower("text"))
    keyed = gated.withColumn(
        "fp", F.md5(F.concat_ws(" ", F.slice(words, 1, 5)).cast("binary"))
    )
    deduped = dedup_exact_deterministic(keyed, key="fp", order_cols=("doc_id",))
    return deduped.select(
        "doc_id",
        "n_words",
        hash_split_col("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
    )


def _curation_pipeline_oracle_sql() -> str:
    from archive_to_parquet_spark.operators.sampling import hex_threshold

    return r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS lwords
  FROM documents
), gated AS (
  SELECT doc_id, lwords,
         CAST(len(words) AS INT) AS n_words,
         md5(array_to_string(lwords[1:5], ' ')) AS fp
  FROM w
  WHERE len(words) >= 30
    AND list_sum(list_transform(words, x -> length(x))) * 1.0
        / greatest(len(words), 1) BETWEEN 3 AND 10
    AND len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
        / greatest(len(words), 1) > 0.7
    AND len(list_intersect(list_transform(words, x -> lower(x)),
            ['the','be','to','of','and','that','have','with'])) >= 1
), deduped AS (
  SELECT doc_id, n_words,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM gated
)
SELECT doc_id, n_words,
       CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t80}' THEN 'train'
            WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t90}' THEN 'val'
            ELSE 'test' END AS split
FROM deduped WHERE rn = 1
""".format(t80=hex_threshold(0.8), t90=hex_threshold(0.9))


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train an add-one-smoothed word-bigram
    LM on the corpus itself, then score every document by its mean bigram
    log-probability ln P(w2|w1) = ln((c(w1 w2) + 1) / (c(w1 ·) + V)),
    V = |distinct second words|. Low scores flag improbable word
    sequences (boilerplate, garbled text) — the perplexity-bucket filter
    of CCNet/RedPajama pipelines, with the n-gram LM trained distributed
    instead of KenLM.

    Scale shape: bigram counts are one shuffle with map-side combine;
    the prefix-count and vocab tables derive from the count table (not a
    second corpus pass); scoring co-keys doc-bigrams with counts on the
    bigram string (big-big but equi-keyed), prefix counts broadcast.
    """
    from archive_to_parquet_spark.functions.text import word_ngrams_col

    docs = _t(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id", F.explode(word_ngrams_col("text", 2)).alias("bg")
    ).filter(F.col("bg").contains(" "))
    c_bg = bigrams.groupBy("bg").agg(F.count("*").alias("c_bg"))
    c_w1 = (
        c_bg.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_w1"))
    )
    vocab = c_bg.select(F.substring_index("bg", " ", -1).alias("w2")).distinct()
    v = vocab.agg(F.count("*").cast("double").alias("v"))
    return (
        bigrams.join(c_bg, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(c_w1), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log((F.col("c_bg") + 1.0) / (F.col("c_w1") + F.col("v")))
                ),
                4,
            ).alias("avg_logp"),
        )
    )


LM_BIGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
),
b AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(words) - 1, 1))]) AS bg
  FROM w
),
bigrams AS (SELECT doc_id, bg FROM b WHERE bg LIKE '% %'),
c_bg AS (SELECT bg, COUNT(*) AS c_bg FROM bigrams GROUP BY 1),
c_w1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(c_bg) AS c_w1 FROM c_bg GROUP BY 1
),
v AS (
  SELECT CAST(COUNT(DISTINCT split_part(bg, ' ', 2)) AS DOUBLE) AS v FROM c_bg
)
SELECT d.doc_id, COUNT(*) AS n_bigrams,
       round(AVG(ln((c_bg.c_bg + 1.0) / (c_w1.c_w1 + v.v))), 4) AS avg_logp
FROM bigrams d
JOIN c_bg USING (bg)
JOIN c_w1 ON c_w1.w1 = split_part(d.bg, ' ', 1)
CROSS JOIN v
GROUP BY 1
"""


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixing weights (alpha = 0.5): per-source
    token mass p_i is flattened to w_i ∝ sqrt(p_i) — the multilingual /
    multi-domain resampling rule (e.g. mC4, XLM-R) that upweights small
    domains without letting the head dominate. Emits the natural and
    resampled shares plus expected tokens drawn per 1M-token budget.

    Scale shape: one corpus-pass agg keyed by source (map-side combine),
    then two single-row broadcast normalizations — no data-sized shuffle
    beyond the per-source agg, regardless of corpus size.
    """
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").cast("double").alias("tot_tokens"))
    s2 = (
        s.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_tokens") / F.col("tot_tokens"))
        .withColumn("pa", F.sqrt("p"))
    )
    z = s2.agg(F.sum("pa").alias("z"))
    return s2.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("p_natural"),
        F.round(F.col("pa") / F.col("z"), 6).alias("weight"),
        F.round(F.col("pa") / F.col("z") * 1000000, 1).alias("expected_tokens_1m"),
    )


MIX_WEIGHTS_SQL = r"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(regexp_extract_all(text, '\S+'))) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT *, CAST(SUM(n_tokens) OVER () AS DOUBLE) AS tot FROM s),
u AS (SELECT *, n_tokens / tot AS p, sqrt(n_tokens / tot) AS pa FROM t),
z AS (SELECT *, SUM(pa) OVER () AS z FROM u)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(p, 6) AS p_natural,
       round(pa / z, 6) AS weight,
       round(pa / z * 1000000, 1) AS expected_tokens_1m
FROM z
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram entropy per document in nats — the cheap
    compression-ratio proxy quality filter (low entropy ⇒ repetitive /
    degenerate text, high ⇒ random noise). H = ln(n) − (Σ c·ln c) / n
    over the per-doc character histogram.

    Scale shape: explode to one row per character, then two groupBys
    keyed (doc_id, ch) and (doc_id) — no joins, both with map-side
    partial aggregation, so the shuffle carries histograms (bounded by
    alphabet size per doc), not raw characters.
    """
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    hist = (
        chars.filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    return hist.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            4,
        ).alias("entropy_nats"),
    )


TEXT_CHAR_ENTROPY_SQL = """
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
h AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM c WHERE ch <> '' GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars, COUNT(*) AS n_distinct,
       round(ln(CAST(SUM(c) AS DOUBLE)) - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c),
             4) AS entropy_nats
FROM h GROUP BY 1
"""


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: a character-trigram language
    model with add-½ smoothing is fit on the corpus itself, and each
    document is scored by its cross-entropy under the model (nats per
    trigram; exp(H) is the perplexity CCNet thresholds on to split a
    crawl into head/middle/tail quality buckets). Repetitive or
    formulaic text scores low, alien/garbled text scores high.

    Scale shape: trigram explode is pure column work (sequence +
    substr — no Python); the model is ONE groupBy over grams with
    map-side partials, and its size is bounded by charset³ (a fixed
    artifact, like CCNet's own KenLM files) so scoring is a BROADCAST
    join of per-doc gram histograms against the model — histograms, not
    raw grams, cross the shuffle, exactly like text_char_entropy.
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    # the trigram explode feeds BOTH aggregations' map-side partials —
    # on a single-split scan that pins the whole gram stream to one
    # task; spreading the narrow doc rows first is 3× at sf0.1
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 2),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    # two aggregations straight off the gram stream: each shuffles only
    # its map-side-partial output (gram totals; per-doc histograms).
    # Measured AGAINST the alternatives at sf0.1: deriving the model
    # from the histogram (with or without localCheckpoint) is 10-25%
    # slower — the explode is whole-stage-codegen-cheap to recompute,
    # while materializing or re-shuffling the histogram is not.
    counts = grams.groupBy("g").agg(F.count("*").alias("cg"))
    totals = counts.agg(F.sum("cg").alias("t"), F.count("*").alias("v"))
    model = counts.crossJoin(F.broadcast(totals)).select(
        "g",
        F.log(
            (F.col("cg") + F.lit(0.5)) / (F.col("t") + 0.5 * F.col("v"))
        ).alias("lp"),
    )
    hist = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return (
        hist.join(F.broadcast(model), "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(
                -F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 4
            ).alias("h_nats"),
        )
    )


TEXT_LM_PERPLEXITY_SQL = """
WITH grams AS (
  SELECT doc_id, substr(text, CAST(u AS INT), 3) AS g
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS u
        FROM documents WHERE length(text) >= 3)
),
counts AS (SELECT g, COUNT(*) AS cg FROM grams GROUP BY g),
tot AS (SELECT CAST(SUM(cg) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS v
        FROM counts),
model AS (SELECT g, ln((cg + 0.5) / (t + 0.5 * v)) AS lp FROM counts, tot),
hist AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       round(-SUM(c * lp) / SUM(c), 4) AS h_nats
FROM hist JOIN model USING (g)
GROUP BY doc_id
"""

def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights over hashed character-bigram features: a target
    distribution (here the deterministic doc_id %% 5 == 0 slice standing
    in for a curated domain) and the raw distribution are both modeled
    as add-1-smoothed histograms over 256 hash buckets, and every
    document's log importance weight is Σ c_b·(ln p_target(b) −
    ln p_raw(b)) — resampling by these weights tilts a raw crawl toward
    the target domain.

    Scale shape: bucketing is pure column math (codepoint polynomial,
    identical in both engines); both distributions are ONE map-side-
    partial aggregation over ≤256 buckets (a broadcast-sized model, by
    construction); only per-doc histograms cross the shuffle. Same
    plan discipline as text_lm_perplexity.
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    # same single-split-scan fix as text_lm_perplexity: the bigram
    # explode feeds three aggregations' map-side partials
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("g"),
    )
    bucketed = grams.select(
        "doc_id",
        (
            (F.ascii(F.col("g").substr(1, 1)) * 31
             + F.ascii(F.col("g").substr(2, 1))) % 256
        ).alias("b"),
    )
    # distributions aggregate straight off the bucket stream (256-row
    # outputs after map-side partials); see text_lm_perplexity for the
    # measured rejection of the histogram-derived variants
    raw = bucketed.groupBy("b").agg(F.count("*").alias("rb"))
    tgt = (
        bucketed.filter(F.col("doc_id") % 5 == 0)
        .groupBy("b")
        .agg(F.count("*").alias("tb"))
    )
    model = (
        raw.join(tgt, "b", "left")
        .select("b", "rb", F.coalesce("tb", F.lit(0)).alias("tb"))
    )
    totals = model.agg(
        F.sum("rb").alias("tr"), F.sum("tb").alias("tt")
    )
    lr = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("tb") + 1.0) / (F.col("tt") + 256.0))
            - F.log((F.col("rb") + 1.0) / (F.col("tr") + 256.0))
        ).alias("lr"),
    )
    hist = bucketed.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return (
        hist.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 4).alias("logw"),
        )
    )


DSIR_IMPORTANCE_SQL = """
WITH grams AS (
  SELECT doc_id, substr(text, CAST(u AS INT), 2) AS g
  FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS u
        FROM documents WHERE length(text) >= 2)
),
bucketed AS (
  SELECT doc_id,
         (unicode(substr(g, 1, 1)) * 31 + unicode(substr(g, 2, 1))) % 256 AS b
  FROM grams
),
raw AS (SELECT b, COUNT(*) AS rb FROM bucketed GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS tb FROM bucketed WHERE doc_id % 5 = 0 GROUP BY b),
model AS (
  SELECT raw.b, rb, COALESCE(tb, 0) AS tb
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
tot AS (SELECT CAST(SUM(rb) AS DOUBLE) AS tr, CAST(SUM(tb) AS DOUBLE) AS tt
        FROM model),
lr AS (
  SELECT b, ln((tb + 1.0) / (tt + 256.0)) - ln((rb + 1.0) / (tr + 256.0)) AS lr
  FROM model, tot
),
hist AS (SELECT doc_id, b, COUNT(*) AS c FROM bucketed GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       round(SUM(c * lr), 4) AS logw
FROM hist JOIN lr USING (b)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Tokenizer statistics
# ---------------------------------------------------------------------------

def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-step statistic: adjacent char-pair counts weighted
    by word frequency, top 30. Two map-side-combinable shuffles (word,
    pair); cost after the first is bounded by vocabulary size."""
    from archive_to_parquet_spark.operators.tokenize import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(docs, "text")
        .orderBy(F.col("count").desc(), F.col("pair").asc())
        .limit(30)
    )


BPE_TOP_PAIRS_SQL = """
WITH wf AS (
  SELECT word, COUNT(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              w -> w <> '')) AS word
    FROM documents
  ) GROUP BY word
), pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM wf, UNNEST(range(1, length(word))) AS t(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS count
FROM pairs GROUP BY pair
ORDER BY count DESC, pair ASC LIMIT 30
"""


def mixture_sample_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a training epoch honoring temperature-scaled mixture
    weights: per-source rates = weight·budget / source_tokens (capped
    at 1), applied as a deterministic md5-hash Bernoulli per doc — the
    same doc set on every run and engine. One corpus agg for the
    weights, one broadcast join + narrow filter for the epoch. Emits
    the per-source sample audit."""
    from archive_to_parquet_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    budget = 200_000.0
    s = docs.groupBy("source").agg(
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("double")
        .alias("n_tokens")
    )
    z = s.select(F.sqrt("n_tokens").alias("pa")).agg(F.sum("pa").alias("z"))
    rates = (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.sqrt("n_tokens") / F.col("z")) * budget / F.col("n_tokens"),
                ),
                6,
            ).alias("rate"),
        )
    )
    kept = mixture_sample(docs, rates, "source", "doc_id", seed="mix")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("long")
        .alias("tokens_kept"),
    )


MIXTURE_SAMPLE_SQL = r"""
WITH s AS (
  SELECT source,
         CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY 1
), z AS (
  SELECT SUM(sqrt(n_tokens)) AS z FROM s
), rates AS (
  SELECT source,
         round(least(1.0, (sqrt(n_tokens) / (SELECT z FROM z))
                          * 200000.0 / n_tokens), 6) AS rate
  FROM s
), kept AS (
  SELECT d.source, d.text
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE r.rate >= 1.0
     OR substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens_kept
FROM kept GROUP BY source
"""


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (functions/html.py — the step
    downstream of the WARC source). Each document is wrapped into a
    deterministic HTML page (title, style block, entity-encoded
    snippet, comment, anchor) and pushed through the pure-JVM
    extractor; title and link extraction ride along. The oracle builds
    the identical page in SQL and applies the same regex pipeline
    (dialect-shared patterns), so any extractor drift mismatches."""
    from archive_to_parquet_spark.functions.html import (
        html_links,
        html_title,
        html_to_text,
    )

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><head><title> Doc &amp; "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit("<script>var x=1;</script></head><body><h1>Heading</h1>"),
        F.lit("<p>"),
        F.col("text"),
        F.lit('</p><!-- hidden --><a href="https://ex.com/'),
        F.col("doc_id").cast("string"),
        F.lit('">link</a>&nbsp;&lt;end&gt;</body></html>'),
    )
    return docs.select(
        "doc_id",
        html_title(page).alias("title"),
        html_to_text(page).alias("body_text"),
        html_links(page).getItem(0).alias("first_link"),
    )


def _html_extract_oracle() -> str:
    from archive_to_parquet_spark.functions.html import (
        oracle_html_to_text_sql,
    )

    page = (
        "'<html><head><title> Doc &amp; ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p{color:red}</style>"
        "<script>var x=1;</script></head><body><h1>Heading</h1>' || "
        "'<p>' || text || '</p><!-- hidden -->"
        '<a href="https://ex.com/\' || CAST(doc_id AS VARCHAR) || \'">'
        "link</a>&nbsp;&lt;end&gt;</body></html>'"
    )
    body = oracle_html_to_text_sql("page")
    return f"""
WITH pages AS (
  SELECT doc_id, {page} AS page FROM documents
)
SELECT doc_id,
       trim(regexp_replace(replace(replace(
           regexp_extract(page, '(?is)<title\\b[^>]*>(.*?)</title>', 1),
           '&amp;', '&'), '&nbsp;', ' '), '\\s+', ' ', 'g')) AS title,
       {body} AS body_text,
       regexp_extract(page,
           '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''>]+)["'']', 1)
         AS first_link
FROM pages
"""


def sample_fixed_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count per-group sampling without replacement
    (operators/sampling.sample_fixed_per_group): exactly 25 documents
    per language, selected by ranking the md5-derived uniform — deterministic,
    engine-portable (hex-string order, no float transforms), and
    replayable row-for-row by the DuckDB QUALIFY twin."""
    from archive_to_parquet_spark.operators.sampling import (
        sample_fixed_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return sample_fixed_per_group(
        docs, "lang", 25, "doc_id", seed="quota"
    ).select("doc_id", "lang")


SAMPLE_FIXED_SQL = """
SELECT doc_id, lang
FROM documents
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY substr(md5('quota' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
) <= 25
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
    return top_k(
        docs.select("doc_id", "n_chars", domain.alias("domain")),
        "domain",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        3,
        "rnk",
    ).select("domain", "rnk", "doc_id", "n_chars")


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
    words = words_col(F.lower("text"))
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
        F.explode(words_col(F.lower("text"))).alias("word"),
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
    return top_k(
        scored,
        "doc_id",
        [F.col("tfidf").desc(), F.col("word").asc()],
        5,
        "rnk",
    ).select("doc_id", "rnk", "word", "tf", "tfidf")


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
    words = words_col(F.lower("text"))
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
# C4-style boilerplate-line removal
# ---------------------------------------------------------------------------

_BOILER_LINE = "cookie-banner: accept all to continue"


def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``operators.dedup.remove_boilerplate_lines`` driver-checked: a
    synthetic boilerplate line is planted into every third document
    (the corpus has no naturally repeated lines), so the line's
    document frequency clears the threshold and it must be removed
    from every planted document while all original lines survive.
    Output is (doc_id, n_lines, n_kept, clean_md5) — the md5 keeps the
    reassembled text compact while still value-certifying the exact
    reconstruction, ORDER of lines included.

    Plan (see the operator docstring): posexplode → line-frequency agg
    with map-side partials → join back on the line key → per-doc
    reassembly; linear in corpus line volume, no doc×doc work.
    """
    from archive_to_parquet_spark.operators.dedup import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER_LINE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = remove_boilerplate_lines(docs, min_doc_frequency=3)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_md5"),
    )


TEXT_BOILERPLATE_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || chr(10) || '{_BOILER_LINE}'
              ELSE text END AS text
  FROM documents
), lines AS (
  SELECT doc_id, unnest(ls).idx AS idx, unnest(ls).line AS line
  FROM (
    SELECT doc_id,
           [{{'idx': i, 'line': l[i]}}
            for i in generate_series(1, len(l))] AS ls
    FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs)
  )
), freq AS (
  SELECT line, COUNT(DISTINCT doc_id) AS doc_freq
  FROM lines WHERE length(trim(line)) > 0
  GROUP BY line
), hot AS (
  SELECT line FROM freq WHERE doc_freq >= 3
), kept AS (
  SELECT l.doc_id, l.idx, l.line
  FROM lines l LEFT JOIN hot h ON h.line = l.line
  WHERE h.line IS NULL
), rebuilt AS (
  SELECT doc_id,
         COUNT(*) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY idx)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, chr(10))) AS INT) AS n_lines,
       r.n_kept,
       r.clean_md5
FROM docs d JOIN rebuilt r ON r.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Model calibration (reliability diagram bins)
# ---------------------------------------------------------------------------

# fixed scorer weights in micro-units (bias, capped word count, mean
# word length, char length) — the "trained model as given" pattern
# (the BPE fixed merge table precedent); training itself is certified
# by train_logreg_quality
_CALIB_W = (-1_200_000, 400_000, 300_000, 2_000_000)


def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration of a fixed linear-sigmoid
    quality scorer against the length label: predictions bucket into
    10 equal bins, each emitting n, the mean predicted probability and
    the observed positive rate (both exact half-up integer micro-unit
    rates). Well-calibrated ⇔ mean_pred ≈ frac_pos per bin — the
    standard post-training check before a score becomes a filter
    threshold at corpus scale.

    One scan + one 10-group aggregation with map-side partials. The
    sigmoid is integerized per row immediately (the logreg discipline)
    and the bin comes from integer division (`div`/`//` — a double
    division + CAST would hit DuckDB's round-on-CAST divergence), so
    bin assignment and sums replay exactly in the oracle.
    """
    docs = _t(spark, sf_dir, "documents")
    words = words_col(F.lower("text"))
    n_words = F.greatest(F.size(words), F.lit(1)).cast("double")

    def e6(col):
        return F.round(col * 1e6, 0).cast("long")

    feats = docs.select(
        (F.length("text") >= 300).cast("int").alias("y"),
        F.lit(1_000_000).cast("long").alias("x0"),
        e6(F.least(n_words, F.lit(200.0)) / 200.0).alias("x1"),
        e6(F.least(F.length("text") / n_words, F.lit(20.0)) / 20.0).alias("x2"),
        e6(F.least(F.length("text"), F.lit(1000)) / 1000.0).alias("x3"),
    )
    z = sum(
        (F.lit(w) / F.lit(1e6)) * (F.col(f"x{k}") / F.lit(1e6))
        for k, w in enumerate(_CALIB_W)
    )
    p_e6 = F.round(F.lit(1e6) / (F.lit(1.0) + F.exp(-z)), 0).cast("long")
    binned = feats.select("y", p_e6.alias("p_e6")).select(
        "y",
        "p_e6",
        F.least(F.expr("p_e6 * 10 div 1000000"), F.lit(9)).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.expr("(2 * sum(p_e6) + count(*)) div (2 * count(*))").alias(
            "mean_pred_e6"
        ),
        F.expr(
            "(2 * sum(y) * 1000000 + count(*)) div (2 * count(*))"
        ).alias("frac_pos_e6"),
    )


def _calibration_oracle_sql() -> str:
    nw = (
        "greatest(len(list_filter(string_split_regex(lower(text), "
        "'\\s+'), w -> w <> '')), 1)"
    )
    z = " + ".join(
        f"({w} / 1e6) * (x{k} / 1e6)" for k, w in enumerate(_CALIB_W)
    )
    return f"""
WITH feats AS (
  SELECT CAST(length(text) >= 300 AS INT) AS y,
         CAST(1000000 AS BIGINT) AS x0,
         CAST(round(least({nw}, 200) / 200.0 * 1e6) AS BIGINT) AS x1,
         CAST(round(least(length(text) / CAST({nw} AS DOUBLE), 20.0)
             / 20.0 * 1e6) AS BIGINT) AS x2,
         CAST(round(least(length(text), 1000) / 1000.0 * 1e6)
           AS BIGINT) AS x3
  FROM feats_src
), scored AS (
  SELECT y,
         CAST(round(1e6 / (1.0 + exp(-({z})))) AS BIGINT) AS p_e6
  FROM feats
), binned AS (
  SELECT y, p_e6,
         CAST(least(p_e6 * 10 // 1000000, 9) AS INT) AS bin
  FROM scored
)
SELECT bin,
       COUNT(*) AS n,
       CAST((2 * SUM(p_e6) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_pred_e6,
       CAST((2 * SUM(y) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS frac_pos_e6
FROM binned
GROUP BY bin
""".replace("FROM feats_src", "FROM documents")


EVAL_CALIBRATION_SQL = _calibration_oracle_sql()


# ---------------------------------------------------------------------------
# Global contiguous indexing without a global sort
# ---------------------------------------------------------------------------


def corpus_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids 0..n-1 in doc_id order WITHOUT a
    single-partition global sort — the scalable zipWithIndex: range-
    partition on the key, count rows per partition (tiny driver-side
    frame), broadcast the per-partition cumulative offsets back, and
    row_number WITHIN each partition (parallel windows) + offset.
    The pattern every corpus export / shard-assignment step needs at
    100 TB, where `ROW_NUMBER() OVER (ORDER BY …)` would serialize the
    world through one task. The oracle IS that global ROW_NUMBER — the
    two must agree exactly, which certifies the offset bookkeeping.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    parts = docs.repartitionByRange(8, "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint()  # pin the partitioning: every consumer below
    # must see the SAME pid assignment
    counts = (
        parts.groupBy("_pid").agg(F.count("*").alias("_n")).orderBy("_pid").collect()
    )
    offsets = []
    acc = 0
    for r in counts:
        offsets.append((r["_pid"], acc))
        acc += r["_n"]
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("doc_id")
    return (
        parts.join(F.broadcast(off_df), "_pid")
        .select(
            "doc_id",
            "source",
            (F.row_number().over(w) - 1 + F.col("_off")).alias("global_idx"),
        )
    )


CORPUS_GLOBAL_INDEX_SQL = """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_idx
FROM documents
"""


# ---------------------------------------------------------------------------
# Weighted priority sampling (sequential Poisson / Ohlsson 1998)
# ---------------------------------------------------------------------------

_WPS_K = 200


def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data selection via sequential Poisson sampling (Ohlsson
    1998; a.k.a. priority sampling): each document draws a deterministic
    uniform u (40-bit md5 of 'wps'+doc_id) and is ranked by key = u/w
    with w = max(n_chars, 1) — the k smallest keys form a
    probability-proportional-to-size sample WITHOUT replacement (long/
    heavy documents proportionally more likely), the quality- or
    length-weighted corpus subsetting step of a training-data mix.

    Cross-engine exactness without integer gymnastics: u and w are
    exact integers and u/w is ONE IEEE-754 double division — correctly
    rounded in every engine, so keys are bit-identical and the ranking
    (ties broken by doc_id) is deterministic; the oracle replays it
    verbatim.

    Scale: ORDER BY key LIMIT k plans as TakeOrderedAndProject —
    per-partition k-row heaps merged at the driver, no global sort;
    the key is a narrow per-row expression over the scan."""
    docs = _t(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wps"), F.col("doc_id").cast("string"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    keyed = docs.select(
        "doc_id",
        w.alias("w"),
        (u.cast("double") / w.cast("double")).alias("priority"),
    )
    return keyed.orderBy(F.col("priority").asc(), F.col("doc_id").asc()).limit(
        _WPS_K
    )


SAMPLE_WEIGHTED_PRIORITY_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(GREATEST(n_chars, 1) AS BIGINT) AS w,
         ('0x' || substr(md5('wps' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT
           AS u
  FROM documents
)
SELECT doc_id, w, CAST(u AS DOUBLE) / CAST(w AS DOUBLE) AS priority
FROM keyed
ORDER BY priority ASC, doc_id ASC
LIMIT {_WPS_K}
"""


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling (exact integer moments)
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 100  # total sample size across strata


def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with NEYMAN allocation (Neyman 1934): the
    sample budget (100 docs) is split across lang strata proportional
    to N_h·σ_h — high-variance strata get more samples, the
    minimum-variance design for estimating the corpus mean (here: of
    n_chars). Within each stratum the sample is the allocation-many
    docs with the smallest md5(doc_id) priority — the deterministic
    uniform draw every sampling entry in this catalog uses.

    Exactness path: per-stratum moments are exact integers (n, Σx in
    int64; Σx² accumulated as decimal(38,0) in Spark / HUGEINT in
    DuckDB, exact to 10^38 — no int64 wrap horizon at any corpus size);
    σ_h is then a fixed double expression over those integers, rounded
    to 6dp BEFORE the allocation arithmetic so the cross-stratum
    Σ N_k·σ_k (a 5-term double sum) starts from identical values in
    both engines. Allocation = round(budget · share), floored at 1 so
    no stratum is unsampled (the textbook practical adjustment).

    Scale shape: one scan → 5-row moment agg; the allocation table
    broadcasts back onto the stratum key; the per-stratum draw is a
    window top-n_h on the md5 priority — one shuffle on lang. At
    100 TB the draw is the only data-sized stage and it's a single
    partitioned top-k, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    moments = docs.groupBy("lang").agg(
        F.count("*").alias("n_h"),
        F.sum("n_chars").alias("s1"),
        F.sum(
            F.col("n_chars").cast("decimal(19,0)") * F.col("n_chars")
        ).alias("s2"),
    )
    nh = F.col("n_h").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    sigma = F.round(F.sqrt((s2 - s1 * s1 / nh) / (nh - 1.0)), 6)
    weighted = moments.select("lang", "n_h", (nh * sigma).alias("w_h"))
    total = weighted.agg(F.sum("w_h").alias("w_tot"))
    alloc = (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_h",
            F.greatest(
                F.lit(1),
                F.round(
                    F.lit(float(_NEYMAN_BUDGET))
                    * F.col("w_h")
                    / F.col("w_tot"),
                    0,
                ).cast("bigint"),
            ).alias("alloc_h"),
        )
    )
    drawn = top_k(
        docs.select(
            "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("priority")
        ).join(F.broadcast(alloc), "lang"),
        "lang",
        [F.col("priority").asc(), F.col("doc_id").asc()],
        F.col("alloc_h"),
        "rn",
    )
    return drawn.select(
        "lang",
        "doc_id",
        F.col("rn").cast("int").alias("stratum_rank"),
        "alloc_h",
        "n_h",
    )


SAMPLE_NEYMAN_SQL = f"""
WITH moments AS (
  SELECT lang, COUNT(*) AS n_h, SUM(n_chars) AS s1,
         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
  FROM documents GROUP BY lang
),
weighted AS (
  SELECT lang, n_h,
         CAST(n_h AS DOUBLE)
           * round(sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n_h AS DOUBLE))
                        / (CAST(n_h AS DOUBLE) - 1.0)), 6) AS w_h
  FROM moments
),
alloc AS (
  SELECT lang, n_h,
         GREATEST(1, CAST(round({_NEYMAN_BUDGET}.0 * w_h
                                / (SELECT SUM(w_h) FROM weighted), 0)
                          AS BIGINT)) AS alloc_h
  FROM weighted
),
drawn AS (
  SELECT d.lang, d.doc_id, a.alloc_h, a.n_h,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC,
                                     d.doc_id ASC) AS rn
  FROM documents d JOIN alloc a USING (lang)
)
SELECT lang, doc_id, CAST(rn AS INT) AS stratum_rank, alloc_h, n_h
FROM drawn WHERE rn <= alloc_h
"""


# ---------------------------------------------------------------------------
# Exact ROC-AUC over a bounded binned-score distribution
# ---------------------------------------------------------------------------

_AUC_BIN_DIV = 8  # score bin width (n_chars DIV 8)
_AUC_BIN_CAP = 4095  # bins clamp here — the bin table is O(1), not O(rows)


def eval_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of document length as a predictor of the English
    label — the ranking-quality readout every classifier-based quality
    filter (fastText quality scores, GPT-judge scores) is evaluated
    with before it gates a corpus.

    Exact tie-corrected Mann-Whitney form: with per-distinct-score
    positive/negative counts (np_s, nn_s) and cum_nn(s) = negatives
    strictly below s,  AUC = Σ_s np_s·(cum_nn(s) + nn_s/2) / (P·N).
    Everything is integer until the final division: the numerator is
    accumulated ×2 (``np·(2·cum_nn + nn)``) in decimal(38,0) (HUGEINT
    in DuckDB), so there is no float summation order anywhere and no
    int64 wrap at any corpus size.

    Scale shape: one map-side-combinable groupBy collapses the corpus
    to ≤ 4096 (bin, np, nn) rows; the single ordered accumulation
    (the one global window) runs over that BOUNDED table — the same
    enumerated exception the plan pins grant ``sketch_hdr_quantiles``.
    At 100 TB the bin table is still ≤ 4096 rows on one executor.
    (Plain literal docstring on purpose: ``\"\"\"...\"\"\".format()`` is
    an expression, not a docstring — gen_catalog.py reads __doc__.)
    """
    docs = _t(spark, sf_dir, "documents")
    binned = docs.select(
        F.least(
            F.expr(f"n_chars DIV {_AUC_BIN_DIV}"), F.lit(_AUC_BIN_CAP)
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_bin = binned.groupBy("s").agg(
        F.sum("pos").alias("np"),
        F.sum(1 - F.col("pos")).alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    acc = per_bin.withColumn(
        "cum_nn", F.coalesce(F.sum("nn").over(w), F.lit(0))
    )
    num2 = F.sum(
        (F.col("np").cast("decimal(19,0)"))
        * (2 * F.col("cum_nn") + F.col("nn"))
    )
    return acc.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.round(
            num2.cast("double")
            / (
                2.0
                * F.sum("np").cast("double")
                * F.sum("nn").cast("double")
            ),
            6,
        ).alias("auc"),
    )


EVAL_AUC_SQL = f"""
WITH binned AS (
  SELECT least(n_chars // {_AUC_BIN_DIV}, {_AUC_BIN_CAP}) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per_bin AS (
  SELECT s, CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(1 - pos) AS BIGINT) AS nn
  FROM binned GROUP BY s
),
acc AS (
  SELECT s, np, nn,
         CAST(COALESCE(SUM(nn) OVER (
             ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS cum_nn
  FROM per_bin
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       COUNT(*) AS n_bins,
       round(CAST(SUM(CAST(np AS HUGEINT) * (2 * cum_nn + nn)) AS DOUBLE)
             / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)),
             6) AS auc
FROM acc
"""


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mixing weights
# ---------------------------------------------------------------------------

_MIX_BUDGET = 100_000  # sampled documents per training epoch


def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling weights — the
    low-resource-upsampling recipe of multilingual LM training
    (Lample & Conneau 2019; mT5's α): with temperature T = 2
    (exponent 1/2), q_l ∝ n_l^(1/2), so small languages are sampled
    more than their corpus share and ``effective_epochs`` shows how
    often each language's data repeats within the budget.

    Exactness path: the exponent-1/2 weight is ``sqrt(n_l)`` —
    IEEE-754 sqrt is correctly rounded, so unlike ``pow(x, 0.3)``
    (libm-dependent) the weights are bit-identical across engines.
    Weights are rounded 6dp BEFORE the cross-language sum (the Neyman
    precedent: the 5-term double fold starts from identical values).

    Scale shape: one map-side-combinable count per language, then two
    1-row broadcast scalar folds — at 100 TB this is a single reduce
    of one integer per language.
    """
    docs = _t(spark, sf_dir, "documents")
    # one count per language, materialized once: counts feeds the
    # total fold, the weight column AND the final projection — without
    # the eager checkpoint the corpus aggregation re-executes per
    # consumer (measured 6 pinned shuffles instead of 3)
    counts = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    ).localCheckpoint()
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    weighted = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_total",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 6).alias("w"),
    )
    wsum = weighted.agg(F.sum("w").alias("w_sum"))
    return weighted.crossJoin(F.broadcast(wsum)).select(
        "lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("p_natural"),
        F.round(F.col("w") / F.col("w_sum"), 6).alias("q_sampling"),
        F.round(
            F.col("w")
            / F.col("w_sum")
            * F.lit(float(_MIX_BUDGET))
            / F.col("n_docs").cast("double"),
            6,
        ).alias("effective_epochs"),
    )


MIX_TEMPERATURE_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
weighted AS (
  SELECT lang, n_docs,
         (SELECT CAST(SUM(n_docs) AS BIGINT) FROM counts) AS n_total,
         round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS w
  FROM counts
)
SELECT lang, n_docs,
       round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         AS p_natural,
       round(w / (SELECT SUM(w) FROM weighted), 6) AS q_sampling,
       round(w / (SELECT SUM(w) FROM weighted) * {_MIX_BUDGET}.0
             / CAST(n_docs AS DOUBLE), 6) AS effective_epochs
FROM weighted
"""


ENTRIES = {
    "text_bigram_topk": (text_bigram_topk, TEXT_BIGRAM_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "text_token_counts": (text_token_counts, TEXT_TOKENS_SQL),
    "text_lang_id": (text_lang_id, TEXT_LANG_ID_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "text_gopher_quality": (text_gopher_quality, TEXT_GOPHER_SQL),
    "text_topgram_repetition": (text_topgram_repetition, TEXT_TOPGRAM_SQL),
    "text_pii_redact": (text_pii_redact, TEXT_PII_SQL),
    "sample_split": (sample_split, _sample_split_oracle_sql()),
    "corpus_shuffle": (corpus_shuffle, CORPUS_SHUFFLE_SQL),
    "vocab_coverage": (vocab_coverage, VOCAB_COVERAGE_SQL),
    "decontaminate_ngrams": (decontaminate_ngrams, DECONTAMINATE_SQL),
    "pack_sequences": (pack_sequences_q, PACK_SEQUENCES_SQL),
    "curation_pipeline": (curation_pipeline, _curation_pipeline_oracle_sql()),
    "crossdoc_spans": (crossdoc_spans, CROSSDOC_SPANS_SQL),
    "web_domain_stats": (web_domain_stats, WEB_DOMAIN_SQL),
    "filter_quantile_bands": (filter_quantile_bands, FILTER_QUANTILE_SQL),
    "lm_bigram_score": (lm_bigram_score, LM_BIGRAM_SQL),
    "mix_weights": (mix_weights, MIX_WEIGHTS_SQL),
    "text_char_entropy": (text_char_entropy, TEXT_CHAR_ENTROPY_SQL),
    "text_lm_perplexity": (text_lm_perplexity, TEXT_LM_PERPLEXITY_SQL),
    "dsir_importance_weights": (dsir_importance_weights, DSIR_IMPORTANCE_SQL),
    "bpe_top_pairs": (bpe_top_pairs, BPE_TOP_PAIRS_SQL),
    "mixture_sample_epoch": (mixture_sample_epoch, MIXTURE_SAMPLE_SQL),
    "text_html_extract": (text_html_extract, _html_extract_oracle()),
    "sample_fixed_per_lang": (sample_fixed_per_lang, SAMPLE_FIXED_SQL),
    "curation_domain_cap": (curation_domain_cap, CURATION_DOMAIN_CAP_SQL),
    "tokenize_bpe_encode": (tokenize_bpe_encode, _bpe_encode_oracle_sql()),
    "chunk_documents": (chunk_documents, CHUNK_DOCUMENTS_SQL),
    "text_tfidf_terms": (text_tfidf_terms, TEXT_TFIDF_SQL),
    "train_logreg_quality": (train_logreg_quality, _logreg_oracle_sql()),
    "text_readability": (text_readability, TEXT_READABILITY_SQL),
    "text_boilerplate_removal": (text_boilerplate_removal, TEXT_BOILERPLATE_SQL),
    "eval_calibration_bins": (eval_calibration_bins, EVAL_CALIBRATION_SQL),
    "corpus_global_index": (corpus_global_index, CORPUS_GLOBAL_INDEX_SQL),
    "sample_weighted_priority": (
        sample_weighted_priority,
        SAMPLE_WEIGHTED_PRIORITY_SQL,
    ),
    "sample_stratified_neyman": (sample_stratified_neyman, SAMPLE_NEYMAN_SQL),
    "eval_auc_quality": (eval_auc_quality, EVAL_AUC_SQL),
    "mix_temperature_sampling": (mix_temperature_sampling, MIX_TEMPERATURE_SQL),
}
