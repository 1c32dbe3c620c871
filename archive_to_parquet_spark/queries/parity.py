"""Reference-parity family: the reference dataflow's semantics
(SURVEY.md §2.12) re-expressed over the ``documents`` table (text ≙
content bytes) — projection+sha256, text/binary include filter,
exclusive-max size filter, dedup-by-hash set semantics, ascii-strings
extraction, multi-source union + counters — plus the source, format,
layout, crawl and parse-quarantine paths the ingest side offers, each
certified end-to-end.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.queries.relational import _stage_dir, _t


# Printable-ASCII run regex — shared verbatim between Spark (Java regex)
# and DuckDB (RE2); the char class subset behaves identically.
ASCII_RUN_10 = "[ -~]{10,}"
ASCII_TEXT_FULL = "^[ -~\\s]*$"

SIZE_MIN, SIZE_MAX = 100, 400  # q3 bounds; max EXCLUSIVE (reference src/lib.rs:55-62)


# ---------------------------------------------------------------------------
# §2.12 reference-dataflow queries over documents (text ≙ content)
# ---------------------------------------------------------------------------

def q1_projection_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/X1/X3: canonical projection + sha256 (reference src/batch.rs:101-131)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.octet_length("text").cast("long").alias("size"),
        F.sha2("text", 256).alias("hash_hex"),
    )


Q1_SQL = """
SELECT doc_id, source,
       CAST(octet_length(encode(text)) AS BIGINT) AS size,
       sha256(text) AS hash_hex
FROM documents
"""


def q2_include_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/X2 include=text analog: keep printable-ASCII documents
    (reference src/batch.rs:162-180; is_utf8 is trivially true on a
    string column, so the discriminating predicate is ASCII-ness)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike(ASCII_TEXT_FULL)).select(
        "doc_id", "source", "lang"
    )


Q2_SQL = f"""
SELECT doc_id, source, lang
FROM documents
WHERE regexp_matches(text, '{ASCII_TEXT_FULL}')
"""


def q2b_utf8_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/X2 on REAL binary content with genuinely invalid UTF-8.

    q2's oracle table stores text as strings, where UTF-8 validity is
    vacuous — so this twin BUILDS a binary column deterministically:
    even doc_ids get valid bytes (text + a multibyte 'é'), odd ids get
    the same bytes corrupted two ways (id%4==1 → a truncated 2-byte
    sequence, lone 0xC3; id%4==3 → the never-valid byte 0xFF). The F1
    operator (JVM ``is_valid_utf8``) must recover exactly the even ids;
    the oracle states the ground truth the construction implies."""
    from archive_to_parquet_spark.operators.filters import apply_include_filter
    from archive_to_parquet_spark.options import IncludeType

    docs = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 2 == 0, F.encode(F.lit("é"), "UTF-8"))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("C3")))
        .otherwise(F.unhex(F.lit("FF")))
    )
    blobs = docs.select(
        "doc_id", F.concat(F.encode("text", "UTF-8"), suffix).alias("content")
    )
    return apply_include_filter(blobs, IncludeType.TEXT).select("doc_id")


Q2B_SQL = """
SELECT doc_id FROM documents WHERE doc_id % 2 = 0
"""


def q3_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: size in [min, max) — max exclusive (reference src/lib.rs:55-62)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("n_chars") >= SIZE_MIN) & (F.col("n_chars") < SIZE_MAX)
    ).select("doc_id", "n_chars")


Q3_SQL = f"""
SELECT doc_id, n_chars FROM documents
WHERE n_chars >= {SIZE_MIN} AND n_chars < {SIZE_MAX}
"""


def q4_dedup_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 set semantics: hash → multiplicity. Validates the dedup *set*
    without depending on the nondeterministic winner (reference
    src/sink.rs:91-96)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("hash_hex"))
        .agg(F.count("*").alias("n"))
    )


Q4_SQL = """
SELECT sha256(text) AS hash_hex, COUNT(*) AS n
FROM documents GROUP BY 1
"""


def q4b_distinct_hash_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 cardinality check: COUNT(DISTINCT sha256(content)) — the
    dedup set size without depending on nondeterministic winners."""
    return _t(spark, sf_dir, "documents").agg(
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct")
    )


Q4B_SQL = "SELECT COUNT(DISTINCT sha256(text)) AS n_distinct FROM documents"


def q5_extract_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: strings(1)-style printable-ASCII runs, min length 10, joined
    with newline (reference crates/extract-strings/src/ascii.rs:23-130,
    src/batch.rs:115-117)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit(ASCII_RUN_10), F.lit(0)), "\n"
        ).alias("strings"),
    )


Q5_SQL = f"""
SELECT doc_id,
       array_to_string(regexp_extract_all(text, '{ASCII_RUN_10}'), chr(10)) AS strings
FROM documents
"""


def q6_union_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 fan-in: multi-input UNION ALL → per-source counters
    (reference src/converter/mod.rs:37-53, src/channel.rs:28-49)."""
    docs = _t(spark, sf_dir, "documents")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        evens.unionAll(odds)
        .groupBy("source")
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("total_chars"))
    )


Q6_SQL = """
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT * FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT * FROM documents WHERE doc_id % 2 = 1
) GROUP BY source
"""


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The reference dataflow end-to-end over documents: project+hash →
    size filter → exact dedup (deterministic winner) → per-source stats."""
    docs = _t(spark, sf_dir, "documents")
    entries = docs.select(
        "source",
        F.col("doc_id").cast("string").alias("path"),
        F.octet_length("text").cast("long").alias("size"),
        F.sha2("text", 256).alias("hash_hex"),
    ).filter((F.col("size") >= 0) & (F.col("size") < (1 << 62)))
    w = Window.partitionBy("hash_hex").orderBy("source", "path")
    unique = (
        entries.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return unique.groupBy("source").agg(
        F.count("*").alias("n_unique"),
        F.sum("size").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# Corpus-format sources: JSONL (gzip shards) and CSV round-trips
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id LONG, lang STRING, source STRING, n_chars LONG, text STRING"


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
# HTTP(S) URL source, driver-checked
# ---------------------------------------------------------------------------

_URL_DOCS = [
    ("site/index.html", b"<html>url-ingested page</html>"),
    ("site/data.bin", bytes(range(64)) * 4),
]


def source_url_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S2 URL source driver-checked end-to-end: an in-process HTTP
    server serves a deterministic ``.tar.gz``; ``entries_pipeline``
    ingests it in ``urls=True`` mode (streaming response body — no
    spool), the result is staged to parquet (the server only lives for
    the duration of the entry), and the oracle states the member
    paths/sizes/sha256 as literals. The ``source`` column carries the
    URL verbatim (reference contract) but holds an ephemeral port, so
    the comparison projects it away.
    """
    import functools
    import gzip
    import http.server
    import io
    import shutil
    import tarfile
    import threading

    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    stage = _stage_dir("urlsrc", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    www = os.path.join(stage, "www")
    out = os.path.join(stage, "out")
    os.makedirs(www)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in _URL_DOCS:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    with open(os.path.join(www, "fixture.tar.gz"), "wb") as fh:
        fh.write(gzip.compress(buf.getvalue(), mtime=0))

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=www
    )
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/fixture.tar.gz"
        df = entries_pipeline(spark, [url], ConvertOptions(), urls=True)
        df.select(
            "path", "size", F.lower(F.hex("hash")).alias("hash_hex")
        ).write.mode("overwrite").parquet(out)
    finally:
        server.shutdown()
        thread.join()
    return spark.read.parquet(out)


def _url_ingest_oracle_sql() -> str:
    rows = ",\n  ".join(
        f"('{name}', {len(payload)}, '{hashlib.sha256(payload).hexdigest()}')"
        for name, payload in _URL_DOCS
    )
    return (
        "SELECT * FROM (VALUES\n  " + rows + "\n) t(path, size, hash_hex)"
    )


SOURCE_URL_INGEST_SQL = _url_ingest_oracle_sql()


# ---------------------------------------------------------------------------
# WARC crawl → documents pipeline, driver-checked
# ---------------------------------------------------------------------------

_CRAWL_HTML = (
    b"<html><head><title>t</title><style>x{color:red}</style></head>"
    b"<body>Hello <b>crawl</b> world.</body></html>"
)
_CRAWL_TEXT = b"just plain text from the crawl"


def _crawl_doc_id(content: bytes) -> int:
    """documents_from_entries' doc_id: first 15 sha256 hex chars as a
    long — restated independently here for the oracle literals."""
    return int(hashlib.sha256(content).hexdigest()[:15].upper(), 16)


def crawl_warc_to_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-corpus plan (plans/crawl.py, the CLI ``--documents``
    path) driver-checked: a staged ``.warc.gz`` holds an HTML response
    and a plain-text resource; the pipeline must gate on UTF-8, sniff
    the HTML, extract its visible text ("Hello crawl world." — the
    spec-obvious reading of the constructed markup), pass plain text
    through, and derive content-hash doc_ids. The oracle states every
    output value as a literal of the construction. Single stage, no
    shuffle (the plan-shape claim tested in tests/test_warc.py).
    """
    import gzip
    import shutil

    from archive_to_parquet_spark.plans.crawl import crawl_to_documents

    stage = _stage_dir("crawldocs", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    seg = os.path.join(stage, "seg.warc.gz")

    def rec(rtype: str, uri: str, payload: bytes) -> bytes:
        return gzip.compress(
            b"WARC/1.0\r\n"
            + f"WARC-Type: {rtype}\r\n".encode()
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload
            + b"\r\n\r\n"
        )

    with open(seg, "wb") as fh:
        fh.write(rec("resource", "http://crawl.example/page", _CRAWL_HTML))
        fh.write(rec("resource", "http://crawl.example/notes.txt", _CRAWL_TEXT))

    docs = crawl_to_documents(spark, [seg])
    return docs.select("doc_id", "url", "text", "n_chars")


def _crawl_oracle_sql() -> str:
    html_text = "Hello crawl world."
    plain_text = _CRAWL_TEXT.decode()
    rows = ",\n  ".join(
        f"(CAST({_crawl_doc_id(content)} AS BIGINT), '{url}', '{text}', "
        f"CAST({len(text)} AS INT))"
        for content, url, text in (
            (_CRAWL_HTML, "http://crawl.example/page", html_text),
            (_CRAWL_TEXT, "http://crawl.example/notes.txt", plain_text),
        )
    )
    return (
        "SELECT * FROM (VALUES\n  " + rows + "\n) t(doc_id, url, text, n_chars)"
    )


CRAWL_WARC_SQL = _crawl_oracle_sql()


# ---------------------------------------------------------------------------
# Incremental (append-only) conversion, driver-checked
# ---------------------------------------------------------------------------

_INC_V1 = [("a.txt", b"incremental alpha"), ("b.txt", b"incremental beta")]
_INC_V2 = _INC_V1 + [("c.txt", b"incremental gamma (new)")]


def source_incremental_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``--incremental`` steady-state ingest path driver-checked:
    batch 1 converts an archive; batch 2 re-converts a grown version of
    it (same members plus one new) and must append ONLY the unseen
    content — the hash anti-join against the existing output, column-
    pruned to the hash. The final dataset read-back must hold each
    member exactly once; the oracle states paths/sizes/sha256 as
    construction literals.
    """
    import io
    import shutil
    import tarfile

    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import convert_incremental

    stage = _stage_dir("incconv", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    out = os.path.join(stage, "dataset")

    def tar_bytes(members):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, payload in members:
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
        return buf.getvalue()

    v1 = os.path.join(stage, "v1.tar")
    v2 = os.path.join(stage, "v2.tar")
    with open(v1, "wb") as fh:
        fh.write(tar_bytes(_INC_V1))
    with open(v2, "wb") as fh:
        fh.write(tar_bytes(_INC_V2))

    convert_incremental(spark, [v1], out, ConvertOptions())
    convert_incremental(spark, [v2], out, ConvertOptions())
    return spark.read.parquet(out).select(
        "path", "size", F.lower(F.hex("hash")).alias("hash_hex")
    )


def _incremental_oracle_sql() -> str:
    rows = ",\n  ".join(
        f"('{name}', {len(payload)}, '{hashlib.sha256(payload).hexdigest()}')"
        for name, payload in _INC_V2
    )
    return (
        "SELECT * FROM (VALUES\n  " + rows + "\n) t(path, size, hash_hex)"
    )


SOURCE_INCREMENTAL_SQL = _incremental_oracle_sql()


# ---------------------------------------------------------------------------
# Deep nested multi-codec walk, driver-checked
# ---------------------------------------------------------------------------

_NEST_FILES = {
    "inner.zip/z1.txt": b"zip member one",
    "inner.zip/sub/z2.txt": b"zip member two, nested dir",
    "inner.tar.bz2/b1.txt": b"bz2-wrapped tar member",
    "plain.txt": b"top-level plain member",
}


def source_nested_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive walker's format matrix in ONE driver-checked
    ingest: a zstd-compressed tar holding a zip (deflate members, one
    in a subdirectory), a bz2-wrapped tar, and a plain file — so the
    gate exercises zstd (module or subprocess), zip streaming, bz2,
    nested-path construction, and leaf passthrough together. Oracle =
    construction literals (nested path chain, size, sha256).
    """
    import bz2 as _bz2
    import io
    import shutil
    import subprocess
    import tarfile
    import zipfile

    import archive_to_parquet_spark.sources.walker as walker_mod
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    def tar_bytes(members: dict) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, payload in members.items():
                info = tarfile.TarInfo(name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
        return buf.getvalue()

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("z1.txt", _NEST_FILES["inner.zip/z1.txt"])
        zf.writestr("sub/z2.txt", _NEST_FILES["inner.zip/sub/z2.txt"])
    inner_tar = tar_bytes({"b1.txt": _NEST_FILES["inner.tar.bz2/b1.txt"]})
    outer = tar_bytes(
        {
            "inner.zip": zbuf.getvalue(),
            "inner.tar.bz2": _bz2.compress(inner_tar),
            "plain.txt": _NEST_FILES["plain.txt"],
        }
    )
    if walker_mod._HAS_ZSTD:
        import zstandard

        blob = zstandard.ZstdCompressor().compress(outer)
    else:
        blob = subprocess.run(
            [walker_mod._ZSTD_BIN, "-c"], input=outer, capture_output=True,
            check=True,
        ).stdout

    stage = _stage_dir("nestedwalk", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    path = os.path.join(stage, "fixture.tar.zst")
    with open(path, "wb") as fh:
        fh.write(blob)
    df = entries_pipeline(spark, [path], ConvertOptions())
    return df.select(
        "path", "size", F.lower(F.hex("hash")).alias("hash_hex")
    )


def _nested_walk_oracle_sql() -> str:
    rows = ",\n  ".join(
        f"('{name}', {len(payload)}, '{hashlib.sha256(payload).hexdigest()}')"
        for name, payload in _NEST_FILES.items()
    )
    return (
        "SELECT * FROM (VALUES\n  " + rows + "\n) t(path, size, hash_hex)"
    )


SOURCE_NESTED_WALK_SQL = _nested_walk_oracle_sql()


# Column-pruned ingest fixture: one leaf per format-refinement branch,
# plus a >1 MiB member so the fused stream-hash crosses copy-buffer
# boundaries. Values are construction literals → closed-form oracle.
_PRUNE_FILES = {
    "plain.txt": b"pruned manifest plain text payload\n",
    "prog.bin": b"\x7fELF" + bytes(range(256)) * 8,  # refined: executable
    "big.bin": (b"\x00\x01\x02\x03" * 300_000) + b"tail",  # 1.2 MB unknown
}


def source_pruned_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned ingest certification: `read_archives` with
    ``columns=(source, path, size, hash, format)`` — the projection the
    Python DataSource API cannot push automatically, threaded into the
    walker explicitly. Entry payloads are stream-hashed but NEVER
    buffered (sources/walker._hashed_read keeps only the 262-byte sniff
    peek); ``content`` is absent from the scan's output schema
    entirely, not dropped afterwards. The oracle is the construction
    literals (size, sha256, refined format — including an executable
    detected from the peek alone and a >1 MiB member hashed across
    copy-buffer boundaries), so a pruned 100-TB manifest/dedup-prepass
    scan is certified to produce exactly the metadata the full scan
    would. The reference cannot prune — its sink schema is fixed
    (src/batch.rs:21-34)."""
    import io
    import shutil
    import tarfile

    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.sources.archive_source import read_archives

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in _PRUNE_FILES.items():
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))

    stage = _stage_dir("prunedmanifest", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    path = os.path.join(stage, "fixture.tar")
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())
    df = read_archives(
        spark,
        [path],
        ConvertOptions(columns=("source", "path", "size", "hash", "format")),
    )
    assert df.columns == ["source", "path", "size", "hash", "format"]
    return df.select(
        "path",
        "size",
        F.lower(F.hex("hash")).alias("hash_hex"),
        "format",
    )


def _pruned_manifest_oracle_sql() -> str:
    def fmt(payload: bytes) -> str:
        return "executable" if payload[:4] == b"\x7fELF" else "unknown"

    rows = ",\n  ".join(
        f"('{name}', {len(payload)}, "
        f"'{hashlib.sha256(payload).hexdigest()}', '{fmt(payload)}')"
        for name, payload in _PRUNE_FILES.items()
    )
    return (
        "SELECT * FROM (VALUES\n  "
        + rows
        + "\n) t(path, size, hash_hex, format)"
    )


SOURCE_PRUNED_MANIFEST_SQL = _pruned_manifest_oracle_sql()


# ---------------------------------------------------------------------------
# Bucketed co-located join: the pay-the-shuffle-once layout, certified
# ---------------------------------------------------------------------------

def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located big-big join certified end-to-end: lineitem
    and orders are LAID OUT as same-bucketed external tables (8 buckets
    on the order key, sorted — plans/bucketing.write_bucketed), and the
    recurring join then plans as a bucket-aligned sort-merge join with
    ZERO shuffle Exchanges (``bucketed_join``'s merge hint, so the tiny
    test scale can't sidestep the question with a broadcast; the
    entry's plan pin holds the one aggregate Exchange), so the oracle
    row certifies the scale property AND the joined values together. This
    is the pay-the-shuffle-once layout for the 100-TB recurring join:
    the exchange is paid at write time, every subsequent join of the
    two tables is exchange-free. Money in exact integer cents.

    Staging is idempotent (r8, same rework as
    dedup_incremental_bucketed): the bucketed tables are written once
    per sf_dir and re-registered on later executions, so repeated runs
    measure the exchange-free JOIN — the thing the layout buys — not
    the layout write it amortizes."""
    import re

    from archive_to_parquet_spark.functions.exactnum import cents_col
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    tl, to = f"bj_li_{suffix}", f"bj_ord_{suffix}"
    stage = _stage_dir("bucketedjoin", sf_dir)
    fp = [
        "bj-v2",
        _input_fingerprint(
            f"{sf_dir}/lineitem.parquet", f"{sf_dir}/orders.parquet"
        ),
    ]
    ensure_bucketed_table(
        spark, tl, os.path.join(stage, "li"), "okey", 8,
        lambda: _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"), "l_extendedprice"
        ),
        fp,
    )
    ensure_bucketed_table(
        spark, to, os.path.join(stage, "od"), "okey", 8,
        lambda: _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"), "o_orderpriority"
        ),
        fp,
    )
    return (
        bucketed_join(spark, tl, to, "okey")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(cents_col("l_extendedprice")).alias("revenue_c"),
        )
    )


SOURCE_BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


ENTRIES = {
    "q1_projection_hash": (q1_projection_hash, Q1_SQL),
    "q2_include_text": (q2_include_text, Q2_SQL),
    "q2b_utf8_binary": (q2b_utf8_binary, Q2B_SQL),
    "q3_size_filter": (q3_size_filter, Q3_SQL),
    "q4_dedup_hash_groups": (q4_dedup_hash_groups, Q4_SQL),
    "q4b_distinct_hash_count": (q4b_distinct_hash_count, Q4B_SQL),
    "q5_extract_strings": (q5_extract_strings, Q5_SQL),
    "q6_union_group": (q6_union_group, Q6_SQL),
    "source_jsonl_roundtrip": (source_jsonl_roundtrip, SOURCE_JSONL_SQL),
    "source_csv_roundtrip": (source_csv_roundtrip, SOURCE_CSV_SQL),
    "parse_quarantine": (parse_quarantine, PARSE_QUARANTINE_SQL),
    "source_orc_roundtrip": (source_orc_roundtrip, SOURCE_ORC_SQL),
    "source_partitioned_pruning": (source_partitioned_pruning, SOURCE_PARTITIONED_SQL),
    "source_dpp_join": (source_dpp_join, SOURCE_DPP_SQL),
    "source_schema_evolution": (source_schema_evolution, SOURCE_SCHEMA_EVOLUTION_SQL),
    "source_url_ingest": (source_url_ingest, SOURCE_URL_INGEST_SQL),
    "crawl_warc_to_documents": (crawl_warc_to_documents, CRAWL_WARC_SQL),
    "source_incremental_convert": (source_incremental_convert, SOURCE_INCREMENTAL_SQL),
    "source_nested_walk": (source_nested_walk, SOURCE_NESTED_WALK_SQL),
    "source_pruned_manifest": (source_pruned_manifest, SOURCE_PRUNED_MANIFEST_SQL),
    "source_bucketed_join": (source_bucketed_join, SOURCE_BUCKETED_JOIN_SQL),
}
