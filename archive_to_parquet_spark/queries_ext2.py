"""Catalog extension (round 3): dimensionality reduction + JL-ANN,
Bloom membership, count-min sketches, lateral top-k, salted hot-key
joins, analytic-window panel, streaming archive ingest, content-level
multimodal decode, boilerplate removal, VARIANT, SQL-defined
functions, and degree-oriented triangle counting.

Same contract as ``queries.py``: each entry pairs an idiomatic-Spark
query with an ANSI-SQL oracle DuckDB runs over the same parquet views,
every computed column aliased identically on both sides.

- ``embedding_jl_projection`` — Johnson-Lindenstrauss random projection
  of the 64-d embeddings to 8 dims with an md5-derived LITERAL matrix
  (the ``fixed_hyperplanes`` determinism pattern): the scale path for
  ANN/clustering when the native dimension makes candidate generation
  too wide. Integer micro-unit dot products — exact in any engine.
- ``dedup_bloom_probe`` — Bloom-filter membership probe: a compact bit
  set built from one corpus half answers "possibly seen?" for the
  other half without rescanning the corpus — the O(bits) incremental
  dedup front-line (the exact/minhash index is the confirmatory tier).
  Deterministic md5 hash positions → DuckDB replays the filter
  bit-for-bit, false positives included.
- ``sketch_countmin`` — count-min sketch word frequencies (d×w counter
  matrix, estimate = min over rows) with the exact count as
  certificate: mergeable, fixed-size frequency estimation for corpus
  statistics at 100 TB.
- ``rel_lateral_topk`` — correlated LATERAL subquery with ORDER BY +
  LIMIT (top-3 customers per nation): exercises Catalyst's lateral
  decorrelation, a different physical path from the window top-k in
  ``rel_window_top3_per_cust``.
- ``rel_salted_hot_join`` — extreme-skew join through
  ``operators.skew.salted_join`` (5-value key, each ~20% of the fact
  side); plain-equi-join semantics certified by the oracle, salt
  pinned in the shuffle partitioning.
- ``rel_window_funcs_panel`` — lag/lead, ntile, percent_rank,
  cume_dist, and running first/max/sum on ONE window partitioning
  (single exchange, plan-pinned).
- ``stream_archive_ingest`` — the archive-stream DataSource through a
  real Structured Streaming query with in-place ``.warc.gz`` segment
  growth; literal-VALUES sha256 oracle.
- ``multimodal_content_decode`` — codec-free CONTENT decode
  driver-checked with closed-form constructions: constant-gray PGM →
  exact grid-mean feature, square-envelope PCM WAV → exact −2^32
  energy fingerprint, minimal MP4 → the three construction-time
  keyframe payloads sliced from mdat.
- ``text_boilerplate_removal`` — C4-style boilerplate-line removal
  with a planted repeated line; exact reassembly certified via md5.
- ``rel_variant_json`` — Spark 4 VARIANT round-trip (parse, typed path
  extraction, nested second parse) against base-column aggregates.
- ``rel_sql_udf_priceband`` — SQL-defined scalar function, inlined by
  Catalyst (no Python eval node; plan-pinned).
- ``ann_jl_topk`` — JL-projected integer candidates + exact 64-d
  re-rank; the oracle replays the approximate algorithm itself.
- ``graph_triangles`` — exact triangle count over the part
  co-purchase graph, degree-ordered orientation (each triangle counted
  once at its lowest-degree corner, wedge fan-out O(√m)).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.queries_ext import _t

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
# Count-min sketch word frequencies
# ---------------------------------------------------------------------------

_CM_ROWS = 3
_CM_WIDTH = 1024
_CM_MIN_EXACT = 50  # report words whose exact count clears this


def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over document words: a d=3 × w=1024 counter
    matrix (counter[i][md5("cm{i}"+word) % w] += 1), point estimate =
    min over rows — always ≥ the true count, with collision overshoot
    bounded by the row width. Emitted next to the exact count for every
    word with exact n ≥ 50, certifying estimate ≥ exact and exposing
    real collision error instead of hiding it.

    Scale: the sketch is a fixed d×w integer grid built by one
    map-side-combinable groupBy — mergeable across shards/streams by
    addition, the standard fixed-memory frequency store at 100 TB. The
    per-word estimate lookup joins d counter rows per word (broadcast:
    the sketch is ≤ d·w rows by construction).
    """
    docs = _t(spark, sf_dir, "documents")
    # round 11 negative result (kept lazy + narrow): BOTH a
    # spread_small_scan on the input (rebuild 1.43 → 1.57 s — the
    # repartition re-executes in all four legs) and a localCheckpoint
    # of the bounded sketch (rebuild 1.43 → 1.77 s — serial barrier)
    # measured WORSE at sf0.1; the four ~0.9 s single-task legs are
    # cheaper than either fix locally. At 100 TB the checkpoint form
    # is the right one (d fewer corpus passes) — see OPTIMIZATION_r11.
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("word")
    )
    # all d sketch-row positions from ONE scan: explode a struct array
    # per word (the union-of-d-selects form re-ran the regex word
    # extraction d times — measured 3 scans → 1)
    def bucket(i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cm{i}"), F.col("word"))), 1, 8),
                16,
                10,
            ).cast("long")
            % _CM_WIDTH
        )

    occurrences = words.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"), bucket(i).alias("bucket")
                    )
                    for i in range(_CM_ROWS)
                ]
            )
        ).alias("rc")
    ).select("rc.cm_row", "rc.bucket")
    sketch = occurrences.groupBy("cm_row", "bucket").agg(
        F.count("*").alias("counter")
    )

    exact = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_n"))
        .filter(F.col("exact_n") >= _CM_MIN_EXACT)
    )
    lookups = exact.select(
        "word",
        "exact_n",
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"cm{i}"), F.col("word"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % _CM_WIDTH
            ).alias(f"b{i}")
            for i in range(_CM_ROWS)
        ],
    )
    est = lookups
    for i in range(_CM_ROWS):
        row_i = sketch.filter(F.col("cm_row") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("counter").alias(f"c{i}")
        )
        est = est.join(F.broadcast(row_i), f"b{i}")
    return est.select(
        "word",
        "exact_n",
        F.least(*[F.col(f"c{i}") for i in range(_CM_ROWS)]).alias("cm_estimate"),
    )


def _countmin_oracle_sql() -> str:
    pos = {
        i: f"(('0x' || substr(md5('cm{i}' || word), 1, 8))::BIGINT) % {_CM_WIDTH}"
        for i in range(_CM_ROWS)
    }
    unions = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS cm_row, {pos[i]} AS bucket FROM words"
        for i in range(_CM_ROWS)
    )
    joins = "\n".join(
        f"JOIN sketch s{i} ON s{i}.cm_row = {i} AND s{i}.bucket = {pos[i]}"
        for i in range(_CM_ROWS)
    )
    least = ", ".join(f"s{i}.counter" for i in range(_CM_ROWS))
    return f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), occurrences AS (
{unions}
), sketch AS (
  SELECT cm_row, bucket, COUNT(*) AS counter
  FROM occurrences GROUP BY cm_row, bucket
), exact AS (
  SELECT word, COUNT(*) AS exact_n FROM words
  GROUP BY word HAVING COUNT(*) >= {_CM_MIN_EXACT}
)
SELECT word, exact_n, least({least}) AS cm_estimate
FROM exact
{joins}
"""


SKETCH_COUNTMIN_SQL = _countmin_oracle_sql()


# ---------------------------------------------------------------------------
# Correlated LATERAL top-k
# ---------------------------------------------------------------------------


def rel_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation via a correlated
    LATERAL subquery with ORDER BY + LIMIT — Catalyst decorrelates it
    into a broadcast join + per-key limit, a different physical path
    from the window-function top-k (rel_window_top3_per_cust).
    Deterministic tiebreak on customer name."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_name, c_acctbal FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) t
        """
    )


REL_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""


# ---------------------------------------------------------------------------
# Salted hot-key join
# ---------------------------------------------------------------------------


def rel_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-skew join through ``operators.skew.salted_join``: events
    join a per-type weight table on ``event_type`` — a 5-value key
    where every key is ~20% of the fact side, the exact shape AQE's
    split can't fully fix (one key ≥ one partition no matter how it
    splits). The left side is salted ``xxhash64(row) % 64`` and the
    weight table replicated 64×, so the shuffle spreads each hot key
    over 64 partitions; semantics stay exactly the plain equi-join's,
    which is what the oracle certifies.

    Floats stay deterministic via the integer-unit convention:
    per-type weight = integer div of summed cents, weighted product
    summed as integers (order-independent, overflow-sized: see the
    cents comment below).
    """
    from archive_to_parquet_spark.operators.skew import salted_join

    from archive_to_parquet_spark.queries import _events

    # cents, not micro-units: value ≤ ~560 → value_c ≤ 5.6e4, so the
    # per-row product weight_c·value_c ≤ ~3e9 and even 1e9 rows per key
    # sum within int64 (e6 units overflowed at sf0.1)
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_c"),
    )
    weights = ev.groupBy("event_type").agg(
        F.expr("sum(value_c) div count(*)").alias("weight_c")
    )
    # shuffle_hash hint: the weight table is tiny, so without it Spark
    # broadcasts and there is no shuffle for salting to spread
    joined = salted_join(ev, weights.hint("shuffle_hash"), "event_type", num_salts=64)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.first("weight_c").alias("weight_c"),
        F.sum(F.col("value_c") * F.col("weight_c")).alias("weighted_c2"),
    )


REL_SALTED_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS value_c
  FROM events
), w AS (
  SELECT event_type, CAST(SUM(value_c) // COUNT(*) AS BIGINT) AS weight_c
  FROM ev GROUP BY event_type
)
SELECT ev.event_type,
       COUNT(*) AS n_events,
       ANY_VALUE(w.weight_c) AS weight_c,
       CAST(SUM(ev.value_c * w.weight_c) AS BIGINT) AS weighted_c2
FROM ev JOIN w USING (event_type)
GROUP BY ev.event_type
"""


# ---------------------------------------------------------------------------
# Window-function panel
# ---------------------------------------------------------------------------


def rel_window_funcs_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over orders exercising the analytic-window family the
    other entries don't: lag/lead (adjacent order gap per customer),
    ntile quartiles, percent_rank / cume_dist, and first/last_value
    over a running frame — all on ONE window partitioning (o_custkey),
    so the whole panel costs a single shuffle + sort.

    Determinism: ordering is total (o_orderkey tiebreak); percent_rank
    and cume_dist are single IEEE divisions of exact integers —
    identical in any engine (no accumulation, no transcendental).
    Restricted to custkey < 100 to keep the row count driver-friendly.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "long"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("price_c"),
        F.lag(cents, 1).over(w).alias("prev_price_c"),
        F.lead(cents, 1).over(w).alias("next_price_c"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first(cents).over(running).alias("first_price_c"),
        F.max(cents).over(running).alias("run_max_c"),
        F.sum(cents).over(running).alias("run_sum_c"),
    )


REL_WINDOW_PANEL_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS price_c,
       lag(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT), 1)
           OVER w AS prev_price_c,
       lead(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT), 1)
           OVER w AS next_price_c,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS first_price_c,
       max(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS run_max_c,
       CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS BIGINT) AS run_sum_c
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
       wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Streaming archive ingest (DataSource end-to-end, literal-VALUES oracle)
# ---------------------------------------------------------------------------

_STREAM_DOCS = [
    ("http://stream.example/a", b"alpha record"),
    ("http://stream.example/b", b"beta record grows the open segment"),
    ("http://stream.example/c", b"gamma record in a fresh segment"),
]


def stream_archive_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``format("archive-stream")`` DataSource end-to-end through a
    real Structured Streaming query: micro-batch 1 ingests a
    ``.warc.gz`` segment, then the segment GROWS in place (a
    per-record gzip member appended — continuous-crawl semantics) and
    a second segment arrives; micro-batch 2 must emit exactly the new
    records. The parquet sink + fresh checkpoint make the run
    deterministic, so the oracle is the closed-form row set (literal
    VALUES with sha256 computed from the fixture bytes) — a full
    value-hash check, not a rows-only concession.
    """
    import gzip
    import shutil

    from archive_to_parquet_spark.queries_ext import _stage_dir
    from archive_to_parquet_spark.sources.datasource import register

    register(spark)
    stage = _stage_dir("streamwarc", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    watch = os.path.join(stage, "in")
    out = os.path.join(stage, "out")
    ckpt = os.path.join(stage, "ckpt")
    os.makedirs(watch)

    def rec(uri: str, payload: bytes) -> bytes:
        body = (
            b"WARC/1.0\r\n"
            b"WARC-Type: resource\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload
            + b"\r\n\r\n"
        )
        return gzip.compress(body)

    seg0 = os.path.join(watch, "seg0.warc.gz")
    with open(seg0, "wb") as fh:
        fh.write(rec(*_STREAM_DOCS[0]))

    stream = (
        spark.readStream.format("archive-stream")
        .option("glob", f"{watch}/*.warc.gz")
        .load()
        .select("path", "size", F.lower(F.hex("hash")).alias("hash_hex"), "format")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # the crawler appends to the OPEN segment and rolls a new one
        with open(seg0, "ab") as fh:
            fh.write(rec(*_STREAM_DOCS[1]))
        with open(os.path.join(watch, "seg1.warc.gz"), "wb") as fh:
            fh.write(rec(*_STREAM_DOCS[2]))
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out)


def _stream_ingest_oracle_sql() -> str:
    import hashlib

    rows = ",\n  ".join(
        f"('{uri}', {len(payload)}, "
        f"'{hashlib.sha256(payload).hexdigest()}', 'unknown')"
        for uri, payload in _STREAM_DOCS
    )
    return (
        "SELECT * FROM (VALUES\n  "
        + rows
        + "\n) t(path, size, hash_hex, format)"
    )


STREAM_ARCHIVE_INGEST_SQL = _stream_ingest_oracle_sql()


# ---------------------------------------------------------------------------
# Content-level multimodal decode (codec-free), driver-checked
# ---------------------------------------------------------------------------


def _mp4_fixture() -> tuple[bytes, list[bytes]]:
    """Minimal ISO BMFF blob with one video trak and three sync samples
    — built byte-exactly at import so the expected keyframe payloads
    are knowable literals (no stss box → every sample is a keyframe per
    ISO 14496-12 §8.6.2)."""
    import struct as _s

    samples = [b"keyframe-one", b"keyframe-two!", b"keyframe-three!!"]
    sizes = [len(s) for s in samples]

    def box(btype: bytes, payload: bytes) -> bytes:
        return _s.pack(">I", 8 + len(payload)) + btype + payload

    stsz = box(b"stsz", _s.pack(">III", 0, 0, 3) + _s.pack(">3I", *sizes))
    stsc = box(b"stsc", _s.pack(">II", 0, 1) + _s.pack(">III", 1, 3, 1))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)

    def build(chunk_off: int) -> bytes:
        stco = box(b"stco", _s.pack(">II", 0, 1) + _s.pack(">I", chunk_off))
        moov = box(
            b"moov",
            box(b"trak", box(b"mdia", hdlr + box(b"minf", box(b"stbl", stsz + stsc + stco)))),
        )
        ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        return ftyp + moov + box(b"mdat", b"".join(samples))

    draft = build(0)
    blob = build(len(draft) - sum(sizes))
    assert len(blob) == len(draft)
    return blob, samples


_MP4_BLOB, _MP4_SAMPLES = _mp4_fixture()
_MP4_KF_DIGEST = "".join(
    hashlib.sha256(s).hexdigest() for s in _MP4_SAMPLES
)


def _png_fixture() -> bytes:
    """8×8 grayscale PNG, right half bright (0|255 columns), FORWARD-
    filtered with every nontrivial scanline filter (Sub/Up/Average/
    Paeth cycling per row) and zlib-compressed — built independently of
    the decoder so ``operators.multimodal._png_pixels``'s inverse
    filtering is certified against the spec's forward direction, not
    against itself. The 4×4 grid-mean feature has closed-form corners:
    the left boxes average 0 (→ −1.0), the right boxes 255 (→ +1.0).
    """
    import struct as _s
    import zlib as _z

    row = [0] * 4 + [255] * 4
    raw = bytearray()
    prev = [0] * 8
    for y in range(8):
        f = (y % 4) + 1  # Sub, Up, Average, Paeth
        raw.append(f)
        cur = row
        for x in range(8):
            a = cur[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            if f == 1:
                enc = cur[x] - a
            elif f == 2:
                enc = cur[x] - b
            elif f == 3:
                enc = cur[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc = cur[x] - pred
            raw.append(enc & 0xFF)
        prev = cur

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + ctype
            + body
            + _s.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


_PNG_BLOB = _png_fixture()


def _jpeg_fixture() -> bytes:
    """16×8 two-block BASELINE JPEG (left 8×8 block constant 64, right
    block constant 192), quantizer all-ones — hand-encoded in the
    forward direction (canonical Huffman codes, DC prediction across
    blocks, category/magnitude bits, EOB, 1-padding) independently of
    ``operators.multimodal._jpeg_pixels`` so the decoder is certified
    against the spec, not against itself. Constant blocks are DC-only
    (DC = 8·(v−128), all AC zero), so the decode is EXACT: the 4×4
    grid-mean feature has closed-form columns 64 (left half) and 192
    (right half). Also exercises MCU iteration and the DC predictor in
    the driver-certified path (category 11 on the second block's jump).
    """
    import struct as _s

    bits: list[int] = []

    def put(value: int, n: int) -> None:
        bits.extend((value >> i) & 1 for i in range(n - 1, -1, -1))

    # canonical tables: DC categories 0..11 all at 4 bits (codes 0..11);
    # AC has the single EOB symbol at 1 bit (code 0)
    pred = 0
    for v in (64, 192):
        dc = 8 * (v - 128)
        diff = dc - pred
        pred = dc
        cat = abs(diff).bit_length()
        put(cat, 4)  # DC symbol `cat` → canonical code == cat at 4 bits
        put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        put(0, 1)  # EOB
    while len(bits) % 8:
        bits.append(1)
    data = bytes(
        int("".join(map(str, bits[i : i + 8])), 2) for i in range(0, len(bits), 8)
    )
    assert b"\xff" not in data  # no stuffing needed for this payload

    def seg(marker: bytes, body: bytes) -> bytes:
        return marker + _s.pack(">H", len(body) + 2) + body

    dqt = seg(b"\xff\xdb", bytes([0x00]) + bytes([1] * 64))
    sof = seg(b"\xff\xc0", bytes([8]) + _s.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    dht_dc = seg(
        b"\xff\xc4",
        bytes([0x00])
        + bytes([0, 0, 0, 12] + [0] * 12)
        + bytes(range(12)),
    )
    dht_ac = seg(
        b"\xff\xc4", bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00])
    )
    sos = seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + data + b"\xff\xd9"
    )


_JPEG_BLOB = _jpeg_fixture()


def _jpeg_progressive_fixture() -> bytes:
    """The same 16×8 two-block image (left 64, right 192) as
    ``_jpeg_fixture`` encoded PROGRESSIVELY (SOF2) by hand, independent
    of ``_jpeg_pixels_progressive``: a DC-first scan at Al=1
    (successive approximation, point-transformed diffs −256/+512), one
    AC scan whose band 1..63 is a single EOBRUN=2 spanning both blocks
    (EOB1 symbol + one extension bit), and a DC refinement scan (one
    appended bit per block). Constant blocks decode EXACTLY, so the
    grid feature has the same closed forms as the baseline twin —
    certifying successive approximation, EOBRUN spans, and multi-scan
    coefficient accumulation in the driver gate."""
    import struct as _s

    def seg(marker: bytes, body: bytes) -> bytes:
        return marker + _s.pack(">H", len(body) + 2) + body

    def pack_bits(bits: list[int]) -> bytes:
        bits = bits + [1] * (-len(bits) % 8)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )

    def put(bits: list[int], value: int, n: int) -> None:
        bits.extend((value >> i) & 1 for i in range(n - 1, -1, -1))

    dqt = seg(b"\xff\xdb", bytes([0x00]) + bytes([1] * 64))
    sof = seg(
        b"\xff\xc2", bytes([8]) + _s.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    dht_dc = seg(
        b"\xff\xc4",
        bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12)),
    )
    # AC table: single symbol EOB1 (0x10) at 1 bit (code 0)
    dht_ac = seg(
        b"\xff\xc4", bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x10])
    )
    # scan 1: DC first, Al=1 — v = dc >> 1: −256 then +256, diffs −256/+512
    b1: list[int] = []
    pred = 0
    for dc in (8 * (64 - 128), 8 * (192 - 128)):
        v = dc >> 1
        diff = v - pred
        pred = v
        cat = abs(diff).bit_length()
        put(b1, cat, 4)
        put(b1, diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    sos1 = seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 0, 0x01])) + pack_bits(b1)
    # scan 2: AC band 1..63 — EOB1 (code 0) + 1 extension bit 0 → EOBRUN=2
    sos2 = seg(b"\xff\xda", bytes([1, 1, 0x00, 1, 63, 0x00])) + pack_bits(
        [0, 0]
    )
    # scan 3: DC refinement (Ah=1, Al=0) — bit0 of each DC (both even → 0)
    sos3 = seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 0, 0x10])) + pack_bits(
        [0, 0]
    )
    return b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos1 + sos2 + sos3 + b"\xff\xd9"


_JPEG_PROG_BLOB = _jpeg_progressive_fixture()

# 16×8 two-color GIF89a (left half palette (20,20,20), right half
# (230,230,230)) generated by the FORWARD LZW encoder in
# tests/test_gif_tiff_real.py (make_gif) and frozen here;
# test_content_decode_gif_literal_matches_generator pins the literal to
# the generator so it stays regenerable and decoder-independent.
# Luminance is exactly 20 / 230, so the 4×4 grid has closed forms.
_GIF_BLOB = bytes.fromhex(
    "47494638396110000800800000141414e6e6e62c000000001000080000021384"
    "6fa1ab88ccdc814b261a2cc0d972fd795801003b"
)


def _flac_fixture() -> bytes:
    """Native FLAC stream of the SAME 128-sample signal as the WAV leg
    (64 silent samples then 64 at +16384), mono 16-bit 8 kHz, one
    VERBATIM subframe — so the REAL lossless decode
    (operators/multimodal._flac_pcm, RFC 9639) must reproduce the WAV
    leg's closed forms exactly: rate 8000, 128 samples, energy
    fingerprint = the high-32-bits pattern −2^32.  CRC-8/CRC-16 are
    computed with the decoder-shared helpers, which
    tests/test_flac_real.py pins to the published check values."""
    from archive_to_parquet_spark.operators.multimodal import _crc8, _crc16

    pcm = [0] * 64 + [16384] * 64
    si = bytearray()
    # min/max block size = the actual frame block size (128), per spec
    si += (128).to_bytes(2, "big") * 2 + (0).to_bytes(3, "big") * 2
    si += ((8000 << 44) | (0 << 41) | (15 << 36) | 128).to_bytes(8, "big")
    si += b"\x00" * 16  # md5 unknown
    head = b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si)
    hdr = bytearray(b"\xff\xf8")
    hdr.append((7 << 4) | 0)  # blocksize: 16-bit-1 follows; rate: streaminfo
    hdr.append((0 << 4) | (0 << 1))  # mono; sample size from streaminfo
    hdr.append(0)  # frame number 0 (1-byte coded form)
    hdr += (127).to_bytes(2, "big")  # blocksize-1
    hdr.append(_crc8(bytes(hdr)))
    body = bytearray(hdr)
    # VERBATIM subframe: 1 pad bit + type 000001 + no-wasted bit = 0x02,
    # then 128 × 16-bit big-endian two's-complement samples (the 8
    # header bits keep everything byte-aligned)
    body.append(0x02)
    for s in pcm:
        body += (s & 0xFFFF).to_bytes(2, "big")
    return head + bytes(body) + _crc16(bytes(body)).to_bytes(2, "big")


_FLAC_BLOB = _flac_fixture()


def multimodal_content_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-level codec-free decode, driver-checked (the round-3
    step past ``multimodal_header_decode``'s header parsing): per doc,

    - a constant-gray 8×8 binary PGM (pixel value doc_id % 251) goes
      through the ``IMAGE_FEATURES`` kernel — the 4×4 pixel
      grid-mean feature of a constant image must equal that constant:
      p00 = (v/255)·2 − 1 exactly, stated by the oracle;
    - a 128-sample PCM WAV (64 silent samples, then 64 at amplitude
      16384 = 0.5 full-scale) goes through ``AUDIO_FINGERPRINT`` —
      the 64-block energy envelope is 32 zero blocks then 32 hot
      blocks, so the median-thresholded fingerprint is exactly the
      high-32-bits pattern: −2^32 as signed int64;
    - the NATIVE FLAC encoding of the same signal (``_flac_fixture``:
      STREAMINFO + one VERBATIM-subframe frame, CRC-8/16) goes through
      the REAL lossless frame decode (RFC 9639, round 7) — bit-for-bit
      the same PCM, so flac_rate/flac_n/flac_fp must equal the WAV
      leg's closed forms;
    - a minimal MP4 goes through ``keyframes_kernel`` — the
      stss/stsc/stco/stsz walk must slice exactly the three
      construction-time keyframe payloads out of mdat (sha256 literals
      in the oracle);
    - a forward-filtered 8×8 grayscale PNG (``_png_fixture``: right
      half bright, Sub/Up/Average/Paeth rows, zlib IDAT) goes through
      the REAL stdlib PNG pixel decode — the 4×4 grid corners must hit
      the closed forms −1.0 (dark left) and +1.0 (bright right),
      certifying inflate + inverse filtering end-to-end;
    - a hand-encoded two-block BASELINE JPEG (``_jpeg_fixture``: left
      block 64, right block 192, quant 1 → DC-only, EXACT decode) goes
      through the REAL pure-stdlib JPEG entropy decoder — grid columns
      must hit the closed forms for 64 and 192, certifying Huffman
      decode, DC prediction, dequantize and IDCT end-to-end;
    - the PROGRESSIVE (SOF2) twin of that image
      (``_jpeg_progressive_fixture``: DC-first at Al=1 + EOBRUN=2 AC
      scan + DC refinement bit, hand-encoded) goes through the REAL
      multi-scan progressive decoder — same closed forms, certifying
      successive approximation and cross-block EOBRUN accumulation;
    - a forward-LZW-encoded two-color GIF (``_GIF_BLOB``: left half
      luminance 20, right half 230, EXACT decode) goes through the
      REAL pure-stdlib GIF-LZW decoder — grid columns must hit the
      closed forms for 20 and 230.

    All eight columns decode in ONE ``decode_media`` pass — one Arrow
    ``mapInPandas`` node, per row, no join and no shuffle; the keyframe
    count and digest are computed JVM-side from the keyframes array.
    """
    from archive_to_parquet_spark.operators.multimodal import (
        AUDIO_FINGERPRINT,
        IMAGE_FEATURES,
        decode_media,
        keyframes_kernel,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 50
    )
    v = (F.col("doc_id") % 251).cast("int")
    pgm = F.concat(
        F.unhex(F.lit("503520382038203235350A")),  # "P5 8 8 255\n"
        F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 64)),
    )
    wav = F.unhex(
        F.lit(
            "52494646"  # RIFF
            + "24010000"  # riff size = 292 LE
            + "57415645666D7420"  # WAVEfmt(space)
            + "10000000"  # fmt size 16
            + "0100" + "0100"  # PCM, mono
            + "401F0000"  # rate 8000
            + "803E0000"  # byte rate 16000
            + "0200" + "1000"  # block align, 16-bit
            + "64617461" + "00010000"  # data, size 256
            + "0000" * 64  # 64 silent samples
            + "0040" * 64  # 64 samples at 0x4000 = 16384
        )
    )
    mp4 = F.unhex(F.lit(_MP4_BLOB.hex()))
    png = F.unhex(F.lit(_PNG_BLOB.hex()))
    jpg = F.unhex(F.lit(_JPEG_BLOB.hex()))
    jpp = F.unhex(F.lit(_JPEG_PROG_BLOB.hex()))
    gif = F.unhex(F.lit(_GIF_BLOB.hex()))
    flac = F.unhex(F.lit(_FLAC_BLOB.hex()))
    media = docs.select(
        "doc_id",
        pgm.alias("pgm"),
        wav.alias("wav"),
        mp4.alias("mp4"),
        png.alias("png"),
        jpg.alias("jpg"),
        jpp.alias("jpp"),
        gif.alias("gif"),
        flac.alias("flac"),
    )

    decoded = decode_media(
        media,
        "doc_id",
        [(c, IMAGE_FEATURES, f"{c}_") for c in ("pgm", "png", "jpg", "jpp", "gif")]
        + [(c, AUDIO_FINGERPRINT, f"{c}_") for c in ("wav", "flac")]
        + [("mp4", keyframes_kernel(every_n=1), "")],
    )

    def feature_e6(col: str, i: int):
        return F.floor(
            F.element_at(f"{col}_feature", i).cast("double") * 1e6 + F.lit(0.5)
        ).cast("long")

    # the digest of the keyframe payloads, in frame order — JVM-side
    kf_digest = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    "keyframes",
                    lambda x: F.struct(
                        x["frame_idx"].alias("frame_idx"),
                        F.sha2(x["frame"], 256).alias("s"),
                    ),
                )
            ),
            lambda x: x["s"],
        ),
        "",
    )
    return decoded.select(
        "doc_id",
        F.col("pgm_width").alias("width"),
        F.col("pgm_height").alias("height"),
        feature_e6("pgm", 1).alias("p00_e6"),
        "png_width",
        "png_height",
        feature_e6("png", 1).alias("png_p00_e6"),
        feature_e6("png", 4).alias("png_p03_e6"),
        "jpg_width",
        "jpg_height",
        feature_e6("jpg", 1).alias("jpg_p00_e6"),
        feature_e6("jpg", 4).alias("jpg_p03_e6"),
        "jpp_width",
        feature_e6("jpp", 1).alias("jpp_p00_e6"),
        feature_e6("jpp", 4).alias("jpp_p03_e6"),
        "gif_width",
        feature_e6("gif", 1).alias("gif_p00_e6"),
        feature_e6("gif", 4).alias("gif_p03_e6"),
        F.col("wav_sample_rate").alias("sample_rate"),
        F.col("wav_n_samples").alias("n_samples"),
        F.col("wav_fingerprint").alias("audio_fp"),
        F.col("flac_sample_rate").alias("flac_rate"),
        F.col("flac_n_samples").alias("flac_n"),
        F.col("flac_fingerprint").alias("flac_fp"),
        F.size("keyframes").cast("long").alias("n_keyframes"),
        kf_digest.alias("kf_digest"),
    )


MULTIMODAL_CONTENT_SQL = f"""
SELECT doc_id,
       8 AS width,
       8 AS height,
       CAST(floor(CAST(CAST((CAST(doc_id % 251 AS DOUBLE) / 255.0) * 2.0 - 1.0
            AS FLOAT) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS p00_e6,
       8 AS png_width,
       8 AS png_height,
       CAST(-1000000 AS BIGINT) AS png_p00_e6,
       CAST(1000000 AS BIGINT) AS png_p03_e6,
       16 AS jpg_width,
       8 AS jpg_height,
       CAST(floor(CAST(CAST((64.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS jpg_p00_e6,
       CAST(floor(CAST(CAST((192.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS jpg_p03_e6,
       16 AS jpp_width,
       CAST(floor(CAST(CAST((64.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS jpp_p00_e6,
       CAST(floor(CAST(CAST((192.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS jpp_p03_e6,
       16 AS gif_width,
       CAST(floor(CAST(CAST((20.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS gif_p00_e6,
       CAST(floor(CAST(CAST((230.0 / 255.0) * 2.0 - 1.0 AS FLOAT) AS DOUBLE)
            * 1000000 + 0.5) AS BIGINT) AS gif_p03_e6,
       8000 AS sample_rate,
       CAST(128 AS BIGINT) AS n_samples,
       CAST(-4294967296 AS BIGINT) AS audio_fp,
       8000 AS flac_rate,
       CAST(128 AS BIGINT) AS flac_n,
       CAST(-4294967296 AS BIGINT) AS flac_fp,
       CAST(3 AS BIGINT) AS n_keyframes,
       '{_MP4_KF_DIGEST}' AS kf_digest
FROM documents
WHERE doc_id < 50
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
    from pyspark.sql import Window

    from archive_to_parquet_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm_col,
    )

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
    wc = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    )
    cand = (
        cs.join(F.broadcast(qs))
        .select("query_id", "vec_id", d2.alias("approx_d2"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _JL_ANN_CANDIDATES)
        .select("query_id", "vec_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    full = emb.select(
        "vec_id", F.col("embedding").alias("cv"), l2_norm_col("embedding").alias("cn")
    )
    qfull = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm_col("embedding").alias("qn"),
    )
    score = F.round(cosine_from_norms("cv", "qv", "cn", "qn"), 6)
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        cand.join(full, "vec_id")
        .join(F.broadcast(qfull), "query_id")
        .select("query_id", "vec_id", score.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine", "rank")
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
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the part co-purchase graph (parts
    sharing an order are adjacent) via ``operators.graph.
    triangle_count`` — degree-ordered orientation, so each triangle is
    counted once at its lowest-degree corner and wedge fan-out stays
    O(√m) even at hub nodes. The oracle replays canonicalization,
    degrees, orientation, wedge join, and the closing-edge semi join.

    Scale: all joins key on node id / edge pairs — no broadcast of the
    edge set, no all-pairs step; the co-purchase expansion itself is
    bounded by items-per-order (basket size), not catalog size.
    """
    from archive_to_parquet_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
        )
    )
    return triangle_count(pairs)


GRAPH_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT x.l_partkey AS src, y.l_partkey AS dst
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM pairs WHERE src <> dst
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
              THEN c.a ELSE c.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
              THEN c.b ELSE c.a END AS v
  FROM canon c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
), closed AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oriented e1 JOIN oriented e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.u = e1.u AND o.v = e2.v)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM canon) AS n_edges,
       (SELECT COUNT(*) FROM closed) AS n_triangles
"""


# ---------------------------------------------------------------------------
# Spark 4 features: VARIANT and SQL UDFs
# ---------------------------------------------------------------------------


def rel_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: each
    event is re-serialized to JSON (``to_json`` over a nested struct
    that embeds the raw ``props`` JSON string), parsed into a VARIANT,
    and the analysis reads ONLY variant paths — ``$.uid``, plus a
    second ``parse_json`` hop into the embedded props for ``$.k``.
    The oracle states the same aggregates from the base columns, so the
    whole VARIANT round-trip (binary encoding, path extraction, typed
    casts) must be lossless.

    Scale: VARIANT parse/extract are JVM expressions inside codegen —
    this is the schema-on-read path for heterogeneous event lakes, one
    scan, aggregation with map-side partials.
    """
    from archive_to_parquet_spark.queries import _events

    ev = _events(spark, sf_dir).select("event_type", "user_id", "props")
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.struct(F.col("props").alias("raw")).alias("nested"),
            )
        )
    )
    extracted = ev.select(
        "event_type",
        F.variant_get(v, "$.uid", "long").alias("uid"),
        F.variant_get(
            F.parse_json(F.variant_get(v, "$.nested.raw", "string")),
            "$.k",
            "long",
        ).alias("k"),
    )
    return extracted.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("uid").alias("sum_uid"),
        F.sum("k").alias("sum_k"),
    )


REL_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k
FROM events
GROUP BY event_type
"""


def rel_sql_udf_priceband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SQL-defined scalar function (Spark 4 ``CREATE FUNCTION ...
    RETURN <expr>``) used in a grouped aggregation. The function body
    is pure SQL, so Catalyst INLINES it — no Python worker, no UDF
    serialization boundary, full codegen — which is the right way to
    package reusable business logic on a 100 TB table. The oracle
    inlines the same CASE by hand.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION _price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 300000.0 THEN 'high'
                    WHEN p >= 150000.0 THEN 'mid'
                    ELSE 'low' END
        """
    )
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_udf_orders")
    return spark.sql(
        """
        SELECT _price_band(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                   AS BIGINT)) AS total_c
        FROM _udf_orders
        GROUP BY _price_band(o_totalprice)
        """
    )


REL_SQL_UDF_SQL = """
SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
            WHEN o_totalprice >= 150000.0 THEN 'mid'
            ELSE 'low' END AS band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS total_c
FROM orders
GROUP BY 1
"""




def rel_skew_isolated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The isolate-the-whales twin of ``rel_salted_hot_join``:
    ``operators.skew.skew_isolated_join`` routes keys above a row
    threshold through a broadcast path (a whale's dimension rows are
    few by definition) and everything else through the normal shuffle
    join — the right tool when ONE key dominates and salting the whole
    table is overkill. Events join per-type weights with the threshold
    set so the most frequent event_type takes the broadcast path; the
    oracle is the plain join + aggregate, certifying the two-path
    union changes nothing semantically.
    """
    from archive_to_parquet_spark.operators.skew import skew_isolated_join

    from archive_to_parquet_spark.queries import _events

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_c"),
    )
    weights = ev.groupBy("event_type").agg(
        F.expr("sum(value_c) div count(*)").alias("weight_c")
    )
    # threshold at 19% of the table: with 5 near-uniform types (~20%
    # each), every type above it is a "whale" at any SF
    n = ev.count()
    joined = skew_isolated_join(
        ev, weights, "event_type", threshold_rows=max(1, int(n * 0.19))
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.first("weight_c").alias("weight_c"),
        F.sum(F.col("value_c") * F.col("weight_c")).alias("weighted_c2"),
    )


REL_SKEW_ISOLATED_SQL = REL_SALTED_SQL


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
    words = F.array_remove(F.split(F.lower("text"), r"\s+"), "")
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
# Perceptual-hash dedup path, driver-checked
# ---------------------------------------------------------------------------

# closed-form ahash literals for the two constructed 8×8 patterns:
# bits are (pixel > mean); LSB-first packing bit = row*8 + col
_PHASH_RIGHT_BRIGHT = sum(0xF0 << (8 * r) for r in range(8)) - (1 << 64)
_PHASH_BOTTOM_BRIGHT = sum(0xFF << (8 * r) for r in range(4, 8)) - (1 << 64)


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pixel → perceptual-hash path driver-checked: each doc
    carries a constructed 8×8 binary PGM — right-half-bright for even
    doc_ids, bottom-half-bright for odd — pushed through
    ``image_perceptual_hashes`` (real decode_pixels + 8×8 box-mean
    ahash). The expected hashes are closed forms of the construction
    (bits = pixel > mean, LSB-first), stated as literals in the oracle;
    the two patterns sit at Hamming distance 32, so any bit error
    surfaces. Arrow mapInPandas per row, no shuffle.
    """
    from archive_to_parquet_spark.operators.multimodal import (
        image_perceptual_hashes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 64
    )
    header = "503520382038203235350A"  # "P5 8 8 255\n"
    right_bright = header + ("00" * 4 + "FF" * 4) * 8
    bottom_bright = header + "00" * 32 + "FF" * 32
    pgm = F.when(
        F.col("doc_id") % 2 == 0, F.unhex(F.lit(right_bright))
    ).otherwise(F.unhex(F.lit(bottom_bright)))
    media = docs.select("doc_id", pgm.alias("data"))
    return image_perceptual_hashes(media, id_col="doc_id").select(
        F.col("media_id").alias("doc_id"), "width", "height", "phash"
    )


MULTIMODAL_PHASH_SQL = f"""
SELECT doc_id,
       8 AS width,
       8 AS height,
       CASE WHEN doc_id % 2 = 0 THEN CAST({_PHASH_RIGHT_BRIGHT} AS BIGINT)
            ELSE CAST({_PHASH_BOTTOM_BRIGHT} AS BIGINT) END AS phash
FROM documents
WHERE doc_id < 64
"""


# ---------------------------------------------------------------------------
# Bulk media profile, driver-checked
# ---------------------------------------------------------------------------

_PROFILE_WAV_HEX = (
    "52494646" "24010000" "57415645666D7420" "10000000" "0100" "0100"
    "401F0000" "803E0000" "0200" "1000" "64617461" "00010000"
    + "0000" * 64 + "0040" * 64
)


def multimodal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``operators.multimodal.profile_media`` driver-checked — the CLI
    ``--media`` bulk path: each doc explodes into three media rows (the
    frozen two-tone GIF, the 64-silent/64-hot PCM WAV, and three
    unclassifiable bytes) and the profile must produce the closed
    forms: GIF 16×8×3 with ahash 0xF0F0F0F0F0F0F0F0 (signed), WAV
    8000 Hz / 128 samples / 16 ms with energy fingerprint −2³², and
    all-null metadata (but exact n_bytes) for the unknown row.

    Scale shape: explode then ONE Arrow mapInPandas stage — no shuffle,
    no join; the bulk profile of a corpus is scan cost plus the Python
    kernels (every kernel degrades to null, never raises).
    """
    from archive_to_parquet_spark.operators.multimodal import profile_media

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 40
    )
    legs = F.array(
        F.struct(
            F.lit("image").alias("kind"),
            F.unhex(F.lit(_GIF_BLOB.hex())).alias("data"),
            F.lit(0).alias("leg"),
        ),
        F.struct(
            F.lit("audio").alias("kind"),
            F.unhex(F.lit(_PROFILE_WAV_HEX)).alias("data"),
            F.lit(1).alias("leg"),
        ),
        F.struct(
            F.lit("unknown").alias("kind"),
            F.unhex(F.lit("000102")).alias("data"),
            F.lit(2).alias("leg"),
        ),
    )
    media = docs.select(
        "doc_id", F.explode(legs).alias("m")
    ).select(
        (F.col("doc_id") * 3 + F.col("m.leg")).alias("media_id"),
        F.col("m.kind").alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.col("m.data").alias("data"),
        F.create_map(
            F.lit("path"), F.concat(F.lit("doc/"), F.col("m.kind"))
        ).alias("meta"),
    )
    prof = profile_media(media)
    return prof.select(
        "media_id",
        "kind",
        "path",
        "n_bytes",
        "width",
        "height",
        "channels",
        "phash",
        "sample_rate",
        "n_samples",
        F.floor(F.col("duration_s") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("dur_ms"),
        "audio_fp",
    )


MULTIMODAL_PROFILE_SQL = f"""
SELECT d.doc_id * 3 + l.leg AS media_id,
       l.kind,
       'doc/' || l.kind AS path,
       l.n_bytes,
       l.width, l.height, l.channels, l.phash,
       l.sample_rate, l.n_samples, l.dur_ms, l.audio_fp
FROM documents d
CROSS JOIN (
  VALUES
    (0, 'image', CAST({len(_GIF_BLOB)} AS BIGINT), 16, 8, 3,
     CAST(-1085102592571150096 AS BIGINT),
     NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
     CAST(NULL AS BIGINT)),
    (1, 'audio', CAST(300 AS BIGINT), NULL, NULL, NULL,
     CAST(NULL AS BIGINT),
     8000, CAST(128 AS BIGINT), CAST(16 AS BIGINT),
     CAST(-4294967296 AS BIGINT)),
    (2, 'unknown', CAST(3 AS BIGINT), NULL, NULL, NULL,
     CAST(NULL AS BIGINT),
     NULL, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
     CAST(NULL AS BIGINT))
) AS l(leg, kind, n_bytes, width, height, channels, phash,
       sample_rate, n_samples, dur_ms, audio_fp)
WHERE d.doc_id < 40
"""


# ---------------------------------------------------------------------------
# Z-order layout key, driver-checked
# ---------------------------------------------------------------------------

_Z_BITS = 16


def maintenance_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order (Morton) layout key from ``plans.maintenance.
    zorder_key`` driver-checked: orders' (o_custkey, o_orderkey) are
    min-max quantized to 16-bit grid cells with exact integer math
    (truncating div — both engines agree), bit-interleaved into the
    64-bit key, and summarized as counts per top-byte key prefix (the
    row-group-level histogram a Z-ordered write would produce). The
    oracle replays quantization and the full 32-term interleave.

    Scale: the key is pure per-row bit math (one scan); the min/max
    frame is a broadcast scalar. Sorting by this key is what makes
    parquet min/max stats selective for BOTH columns at once
    (write_zordered); the entry certifies the key itself.
    """
    from archive_to_parquet_spark.plans.maintenance import zorder_key

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    stats = orders.agg(
        F.min("o_custkey").alias("mn_c"),
        F.max("o_custkey").alias("mx_c"),
        F.min("o_orderkey").alias("mn_o"),
        F.max("o_orderkey").alias("mx_o"),
    )
    top = (1 << _Z_BITS) - 1

    def q(col, mn, mx):
        rng = F.col(mx) - F.col(mn)
        return F.when(rng <= 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.expr(f"(({col} - {mn}) * {top + 1}) div ({mx} - {mn} + 1)"),
                F.lit(top).cast("long"),
            )
        )

    keyed = orders.crossJoin(F.broadcast(stats)).select(
        q("o_custkey", "mn_c", "mx_c").alias("qc"),
        q("o_orderkey", "mn_o", "mx_o").alias("qo"),
    )
    z = zorder_key(["qc", "qo"], bits=_Z_BITS)
    return (
        keyed.select(F.shiftright(z, 24).alias("z_prefix"))
        .groupBy("z_prefix")
        .agg(F.count("*").alias("n_rows"))
    )


def _zorder_oracle_sql() -> str:
    top = (1 << _Z_BITS) - 1
    interleave = " + ".join(
        f"(((q{d} >> {b}) & 1) << {b * 2 + i})"
        for b in range(_Z_BITS)
        for i, d in enumerate(("c", "o"))
    )
    return f"""
WITH stats AS (
  SELECT MIN(o_custkey) AS mn_c, MAX(o_custkey) AS mx_c,
         MIN(o_orderkey) AS mn_o, MAX(o_orderkey) AS mx_o
  FROM orders
), keyed AS (
  SELECT CASE WHEN s.mx_c - s.mn_c <= 0 THEN 0
              ELSE least(((o.o_custkey - s.mn_c) * {top + 1})
                         // (s.mx_c - s.mn_c + 1), {top}) END AS qc,
         CASE WHEN s.mx_o - s.mn_o <= 0 THEN 0
              ELSE least(((o.o_orderkey - s.mn_o) * {top + 1})
                         // (s.mx_o - s.mn_o + 1), {top}) END AS qo
  FROM orders o CROSS JOIN stats s
)
SELECT ({interleave}) >> 24 AS z_prefix,
       COUNT(*) AS n_rows
FROM keyed
GROUP BY 1
"""


MAINTENANCE_ZORDER_SQL = _zorder_oracle_sql()


# ---------------------------------------------------------------------------
# MERGE upsert into a partitioned dataset, driver-checked
# ---------------------------------------------------------------------------


def maintenance_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``plans.maintenance.upsert_partitioned`` (partition-scoped
    MERGE) driver-checked end-to-end: a lang-partitioned base dataset
    (doc_id < 400) takes an update batch (200 ≤ doc_id < 600, text
    uppercased) — updates must REPLACE matched keys, new keys append,
    and untouched rows survive verbatim. The result re-reads the
    dataset after the merge; the oracle states MERGE semantics
    directly (anti-join + union). Output (doc_id, lang, text_md5).

    Scale: only the partitions the update batch touches are read back
    or rewritten (dynamic partition overwrite + IN-filter pruning —
    plan-pinned in tests/test_bucketing.py); the merge cost tracks the
    update batch, not the dataset.
    """
    import shutil

    from archive_to_parquet_spark.plans.maintenance import upsert_partitioned
    from archive_to_parquet_spark.queries_ext import _stage_dir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    stage = _stage_dir("upsert", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    base_path = os.path.join(stage, "dataset")
    docs.filter(F.col("doc_id") < 400).write.partitionBy("lang").parquet(
        base_path
    )
    updates = (
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 600))
        .select("doc_id", "lang", F.upper("text").alias("text"))
    )
    upsert_partitioned(spark, base_path, updates, key="doc_id", partition_col="lang")
    merged = spark.read.parquet(base_path)
    return merged.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


MAINTENANCE_UPSERT_SQL = """
WITH base AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id < 400
), updates AS (
  SELECT doc_id, lang, upper(text) AS text
  FROM documents WHERE doc_id >= 200 AND doc_id < 600
), merged AS (
  SELECT b.doc_id, b.lang, b.text
  FROM base b ANTI JOIN updates u ON u.doc_id = b.doc_id
  UNION ALL
  SELECT doc_id, lang, text FROM updates
)
SELECT doc_id, lang, md5(text) AS text_md5 FROM merged
"""


# ---------------------------------------------------------------------------
# Bucketed exchange-free join, driver-checked
# ---------------------------------------------------------------------------


def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-layout join (``plans.bucketing``) driver-checked:
    orders and lineitem are persisted as same-bucketed managed tables
    on the orderkey, then joined and aggregated — the join plans with
    ZERO shuffle exchanges (the layout's whole point, asserted in
    tests/test_bucketing.py; here the oracle certifies the RESULTS are
    exactly the plain join's). Pay the exchange once at layout time,
    never per query — the recurring big-big join economics at 100 TB.
    """
    from archive_to_parquet_spark.plans.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    import shutil

    from archive_to_parquet_spark.queries_ext import _stage_dir

    sf_tag = "".join(c for c in sf_dir if c.isalnum())[-6:]
    lt, rt = f"b_orders_{sf_tag}", f"b_lineitem_{sf_tag}"
    # external tables at an explicit /tmp staging location: the entry
    # must work in sessions we don't own, whose warehouse dir (cwd by
    # default) may not be writable. Idempotent across sessions: a fresh
    # catalog doesn't know the table but the directory survives — drop
    # both.
    stage = _stage_dir("bucketed", sf_dir)
    for t in (lt, rt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(stage, t), ignore_errors=True)
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        lt,
        "o_orderkey",
        num_buckets=8,
        path=os.path.join(stage, lt),
    )
    write_bucketed(
        _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        rt,
        "o_orderkey",
        num_buckets=8,
        path=os.path.join(stage, rt),
    )
    joined = bucketed_join(spark, lt, rt, "o_orderkey")
    return joined.groupBy("o_custkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


REL_BUCKETED_SQL = """
SELECT o.o_custkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey
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
    from archive_to_parquet_spark.queries_ext import _stage_dir

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
    from archive_to_parquet_spark.queries_ext import _stage_dir

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
# Custom stateful streaming operator, driver-checked
# ---------------------------------------------------------------------------


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` custom stateful operator
    (streaming/stateful.py running_user_stats) driver-checked: a subset
    of events streams through a real query (file source, one
    availableNow-style pass, foreachBatch parquet staging because
    update output mode has no file sink), and the per-user lifetime
    stats must equal the batch ground truth — the oracle states it as
    plain SQL. Every field is in the contract: counts and min/max are
    exact set extrema, and the running total accumulates integer CENTS
    inside the state (streaming/stateful.py), so it is batch-order- and
    partitioning-independent and compares exactly against the oracle's
    integer-cents sum.
    """
    import shutil

    from archive_to_parquet_spark.queries import _events
    from archive_to_parquet_spark.queries_ext import _stage_dir
    from archive_to_parquet_spark.streaming.stateful import running_user_stats

    stage = _stage_dir("statefuluser", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    src_dir = os.path.join(stage, "in")
    out = os.path.join(stage, "out")
    ckpt = os.path.join(stage, "ckpt")
    subset = _events(spark, sf_dir).filter(F.col("user_id") < 20).select(
        "user_id", "value"
    )
    subset.write.parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    stats = running_user_stats(stream)
    q = (
        stats.writeStream.outputMode("update")
        .foreachBatch(
            lambda batch_df, _bid: batch_df.write.mode("overwrite").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out).select(
        "user_id", "n_events", "total_value", "min_value", "max_value"
    )


STREAM_STATEFUL_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
WHERE user_id < 20
GROUP BY user_id
"""


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
    from archive_to_parquet_spark.queries_ext import _stage_dir

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
    from archive_to_parquet_spark.queries_ext import _stage_dir

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
    buffered (sources/walker._hashed_meta keeps only the 262-byte sniff
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
    from archive_to_parquet_spark.queries_ext import _stage_dir
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
# Multimodal resize: box-filter thumbnailing with closed-form oracles
# ---------------------------------------------------------------------------

_STEP8_BODY_HEX = (("00" * 4) + ("c8" * 4)) * 8  # 8×8: left half 0, right 200


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL box-filter image resize (`operators.multimodal.
    resize_images`), driver-checked with closed-form constructions:

    - a constant-gray 8×8 PGM (value doc_id % 251) resized DOWN to 4×4
      must stay that constant in every output byte;
    - a step 8×8 PGM (left half 0, right half 200) resized to 3×3
      exercises non-divisible area-weighted boxes: column boundaries
      [0,2)/[2,5)/[5,8) give exact means 0, 200/3 → 67, 200 — each
      output row is bytes 00 43 c8;
    - the constant 2×2 PGM resized UP to 4×4 exercises the
      nearest-neighbor upsample leg and must also stay constant.

    Pixels are certified byte-for-byte via their hex image. One Arrow
    ``mapInPandas`` stage per fixture, no shuffle (see resize_images).
    """
    from archive_to_parquet_spark.operators.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 50
    )
    v_hex = F.lpad(F.lower(F.hex((F.col("doc_id") % 251).cast("int"))), 2, "0")
    const8 = F.concat(
        F.unhex(F.lit("503520382038203235350a")),  # "P5 8 8 255\n"
        F.unhex(F.repeat(v_hex, 64)),
    )
    step8 = F.unhex(F.lit("503520382038203235350a" + _STEP8_BODY_HEX))
    const2 = F.concat(
        F.unhex(F.lit("503520322032203235350a")),  # "P5 2 2 255\n"
        F.unhex(F.repeat(v_hex, 4)),
    )
    media = docs.select(
        "doc_id",
        const8.alias("const8"),
        step8.alias("step8"),
        const2.alias("const2"),
    )

    def leg(data_col: str, fixture: str, w: int, h: int) -> DataFrame:
        return resize_images(
            media, out_w=w, out_h=h, id_col="doc_id", data_col=data_col
        ).select(
            F.col("media_id").alias("doc_id"),
            F.lit(fixture).alias("fixture"),
            "in_w",
            "in_h",
            "out_w",
            "out_h",
            F.lower(F.hex("pixels")).alias("pix_hex"),
        )

    return (
        leg("const8", "const8_4x4", 4, 4)
        .unionByName(leg("step8", "step8_3x3", 3, 3))
        .unionByName(leg("const2", "const2_4x4", 4, 4))
    )


MULTIMODAL_RESIZE_SQL = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50)
SELECT doc_id, 'const8_4x4' AS fixture,
       CAST(8 AS INT) AS in_w, CAST(8 AS INT) AS in_h,
       CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
       repeat(lpad(lower(hex(doc_id % 251)), 2, '0'), 16) AS pix_hex
FROM ids
UNION ALL
SELECT doc_id, 'step8_3x3',
       CAST(8 AS INT), CAST(8 AS INT), CAST(3 AS INT), CAST(3 AS INT),
       '0043c80043c80043c8'
FROM ids
UNION ALL
SELECT doc_id, 'const2_4x4',
       CAST(2 AS INT), CAST(2 AS INT), CAST(4 AS INT), CAST(4 AS INT),
       repeat(lpad(lower(hex(doc_id % 251)), 2, '0'), 16)
FROM ids
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
# Bucketed co-located join: the pay-the-shuffle-once layout, certified
# ---------------------------------------------------------------------------


def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located big-big join certified end-to-end: lineitem
    and orders are LAID OUT as same-bucketed external tables (8 buckets
    on the order key, sorted — plans/bucketing.write_bucketed), and the
    recurring join then plans with ZERO shuffle Exchanges — asserted
    in-query (plan_has_exchange, with auto-broadcast disabled so the
    tiny test scale can't sidestep the question), so the driver row
    certifies the scale property AND the joined values together. This
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
        plan_has_exchange,
    )
    from archive_to_parquet_spark.queries_ext import _stage_dir

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
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = bucketed_join(spark, tl, to, "okey").select(
            "okey", "l_extendedprice", "o_orderpriority"
        )
        assert not plan_has_exchange(probe), "bucketed join gained a shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
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


def dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-scale incremental EXACT dedup with a co-bucketed
    layout (reference contract D1, src/sink.rs:75-103, scaled to a
    persistent corpus): the seen-hash index (even doc_ids → distinct
    sha256) and the daily ingest batch (odd doc_ids) are both written
    as 8-bucket tables on the hash, so the daily anti-join ("which
    documents are NEW?") AND the within-batch winner election
    (min doc_id per hash) plan with ZERO shuffle Exchanges — asserted
    in-query with auto-broadcast disabled, so the driver row certifies
    the values and the scale property together.

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
        ensure_bucketed_table,
        plan_has_exchange,
    )
    from archive_to_parquet_spark.queries_ext import _stage_dir

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

    def probe() -> DataFrame:
        return (
            spark.table(tb)
            .join(spark.table(ti), "hash_hex", "left_anti")
            .groupBy("hash_hex")
            .agg(
                F.min("doc_id").alias("new_id"),
                F.count("*").alias("n_copies"),
            )
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # anti-join AND winner election both ride the bucket spec:
        # zero Exchange anywhere in the probe plan
        assert not plan_has_exchange(probe()), (
            "bucketed incremental dedup gained a shuffle"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return probe()


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
    ZERO shuffle Exchanges, asserted in-query with auto-broadcast
    disabled.

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
        ensure_bucketed_table,
        plan_has_exchange,
    )
    from archive_to_parquet_spark.queries_ext import _stage_dir

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

    def probe() -> DataFrame:
        # band_hash embeds band_idx in its md5 input, so the single
        # bucket column is the full join key; grouping by (band_idx,
        # band_hash) still rides the bucket spec (grouping keys ⊇
        # partitioning key).
        return (
            spark.table(tb)
            .join(spark.table(ti).select("band_hash"), "band_hash", "left_anti")
            .groupBy("band_idx", "band_hash")
            .agg(
                F.min("doc_id").alias("first_doc"),
                F.count("*").alias("n_docs"),
            )
            .select("band_idx", "band_hash", "first_doc", "n_docs")
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not plan_has_exchange(probe()), (
            "bucketed near-dup index delta gained a shuffle"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return probe()


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
    100-TB side — then plans with ZERO shuffle Exchanges, asserted
    in-query with auto-broadcast disabled; the only Exchange in the
    whole top-k plan is the final re-rank, keyed on query_id and
    priced on CANDIDATES only (also asserted: exactly one). The corpus
    is never re-shuffled, per batch or ever.

    Output and oracle match `ann_lsh_topk` (exact equality on the
    approximate algorithm itself): per query the top-10 by cosine
    (rounded to 6 before ranking; vec_id tiebreak) among corpus rows
    in any probed bucket. Corpus = even vec_ids; the daily query batch
    = vec_id % 50 == 25 (disjoint, so serving never self-matches).

    Staging is idempotent (`ensure_bucketed_table`): repeated runs
    measure the PROBE — the actual serving workload."""
    import re

    from pyspark.sql import Window

    from archive_to_parquet_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm_col,
    )
    from archive_to_parquet_spark.operators.similarity import (
        fixed_hyperplanes,
        hyperplane_bucket_literal,
    )
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        count_shuffle_exchanges,
        ensure_bucketed_table,
        plan_has_exchange,
    )
    from archive_to_parquet_spark.queries_ext import _stage_dir

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

    def candidates() -> DataFrame:
        return (
            spark.table(tb)
            .join(spark.table(ti), "bucket")
            .select(
                "query_id",
                "vec_id",
                F.round(cosine_from_norms("cv", "qv", "cn", "qn"), 6).alias(
                    "cosine"
                ),
            )
        )

    def topk() -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        return (
            candidates()
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _ALSHBK_K)
            .select("query_id", "vec_id", "cosine", "rank")
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the join that touches the corpus side moves no rows at all;
        # the whole top-k pays exactly ONE exchange, on candidates only
        assert not plan_has_exchange(candidates()), (
            "bucketed ANN candidate generation gained a shuffle"
        )
        n_ex = count_shuffle_exchanges(topk())
        assert n_ex == 1, (
            f"bucketed ANN top-k should pay exactly 1 exchange "
            f"(candidates-only re-rank), plan has {n_ex}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return topk()


def _alshbk_sql_planes():
    """(plane_cols_sql, bucket_expr_fn) for the md5-literal-plane LSH —
    shared by every oracle that reproduces the bucket assignment."""
    from archive_to_parquet_spark.operators.similarity import fixed_hyperplanes

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


def stream_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS maintenance of the bucketed ANN index — the streaming
    leg of `ann_lsh_bucketed` (reference contract D1's persistent index
    under arrival, src/sink.rs:75-103): vectors arrive as 4 slice files
    (vec_id % 4), one per micro-batch; each batch computes its
    literal-plane LSH bucket JVM-side and foreachBatch APPENDS it to
    the SAME 8-bucket table layout the serving join reads — writes pay
    the bucket route per batch, so the index never needs re-layout.

    The emitted result is the per-bucket index profile (vector count,
    first member): additive across batches, so it is invariant to batch
    boundaries and equals the batch computation over all streamed
    vectors — the oracle states exactly that. The count is
    COUNT(DISTINCT vec_id), so a replayed micro-batch (failure-retry
    appends twice) cannot change the answer: dedup rides the layout
    instead of needing a transactional sink.

    Scale shape, asserted in-query: the profile groupBy("bucket") —
    and even its two-phase DISTINCT expansion, whose keys (bucket,
    vec_id) ⊇ the bucket key — plans with ZERO shuffle Exchanges over
    the appended table. At 100 TB this is the daily health check of
    the index you serve from; it never moves a row.

    Machinery lives in streaming/ann_index.py (replay idempotence has
    its own crash-replay test there)."""
    import glob
    import shutil
    import tempfile
    import uuid

    from archive_to_parquet_spark.operators.similarity import (
        fixed_hyperplanes,
    )
    from archive_to_parquet_spark.plans.bucketing import plan_has_exchange
    from archive_to_parquet_spark.streaming.ann_index import (
        ann_index_stream,
        index_profile,
    )

    emb = _t(spark, sf_dir, "embeddings")
    planes = fixed_hyperplanes(_ALSHBK_PLANES, _ALSHBK_DIM)
    table = f"saidx_{uuid.uuid4().hex[:8]}"
    root = tempfile.mkdtemp(prefix="stream_ann_idx_")
    stage = os.path.join(root, "in")
    os.makedirs(stage)
    try:
        for k in range(4):
            tmp = os.path.join(root, f"slice{k}")
            emb.filter(F.col("vec_id") % 4 == k).coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(stage, f"{k:02d}.parquet")
            shutil.copy(part, dst)
            t = 1_700_000_000 + k * 10  # deterministic arrival order
            os.utime(dst, (t, t))
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ann_index_stream(
            stream,
            table,
            os.path.join(root, "idx"),
            planes,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert not plan_has_exchange(index_profile(spark, table)), (
                "bucketed index profile gained a shuffle"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the staging dir (bucket files included) is removed below
        return index_profile(spark, table).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(root, ignore_errors=True)


def _stream_ann_idx_oracle_sql() -> str:
    """Batch twin: per-bucket profile over ALL streamed vectors — the
    arrival-order/batch-boundary invariance is the claim under test."""
    plane_cols, bucket = _alshbk_sql_planes()
    return f"""
WITH planes AS (
  SELECT {plane_cols}
), b AS (
  SELECT vec_id, {bucket('embedding')} AS bucket
  FROM embeddings CROSS JOIN planes
)
SELECT CAST(bucket AS INT) AS bucket,
       COUNT(DISTINCT vec_id) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS first_vec
FROM b GROUP BY 1
"""


STREAM_ANN_INDEX_APPEND_SQL = _stream_ann_idx_oracle_sql()


def maintenance_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AGGREGATE-materialized-view maintenance — the
    never-rescan-the-base pattern every 100-TB warehouse lives by
    (reference contract K4's post-write stats generalized to persisted,
    foldable state; src/lib.rs counters are the degenerate one-group
    case): revenue-by-nation is kept as mergeable partials (COUNT +
    exact-cents SUM per nation), the HISTORY partials (orders with
    o_orderkey % 4 != 3, through broadcast customer→nation dims) are
    staged once per sf_dir as the MV state, and each run folds only the
    DELTA batch (o_orderkey % 4 == 3) into it: scan delta → broadcast
    dim join → partial agg → union with state → re-agg. COUNT and SUM
    are algebraic, so merge(state, agg(delta)) == agg(full) — and the
    oracle IS the full recompute, so the driver row certifies the
    algebra, not just the numbers.

    Scale: the history fact table is never touched again — asserted
    in-query by counting parquet scans in the probe plan (state file +
    delta fact + 2 dims = exactly 4; a full recompute would scan the
    whole fact). The delta agg is map-side combinable into 25 groups;
    the merge re-agg moves 25 partial rows per batch. At 1000
    executors the daily cost is the delta scan, full stop."""
    from archive_to_parquet_spark.functions.exactnum import cents_col
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        ensure_parquet_snapshot,
    )
    from archive_to_parquet_spark.queries_ext import _stage_dir

    mv_path = os.path.join(_stage_dir("incragg", sf_dir), "mv")

    def rev_by_nation(orders: DataFrame) -> DataFrame:
        cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        return (
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(cents_col("o_totalprice")).alias("revenue_c"),
            )
        )

    orders = _t(spark, sf_dir, "orders")
    ensure_parquet_snapshot(
        spark,
        mv_path,
        lambda: rev_by_nation(orders.filter(F.col("o_orderkey") % 4 != 3)),
        [
            "incragg-v1",
            _input_fingerprint(
                f"{sf_dir}/orders.parquet",
                f"{sf_dir}/customer.parquet",
                f"{sf_dir}/nation.parquet",
            ),
        ],
    )

    def probe() -> DataFrame:
        state = spark.read.parquet(mv_path)
        delta = rev_by_nation(orders.filter(F.col("o_orderkey") % 4 == 3))
        return (
            state.unionByName(delta)
            .groupBy("n_name")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("revenue_c").alias("revenue_c"),
            )
        )

    plan = probe()._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 4, (
        f"incremental-MV probe must scan state + delta + 2 dims "
        f"(4 parquet scans), plan has {n_scans} — the history fact "
        f"table is being rescanned"
    )
    return probe()


MAINTENANCE_INCREMENTAL_AGG_SQL = """
SELECT n_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Theta sketch set-operation cardinalities (union / intersection /
# difference estimates from k-sized state)
# ---------------------------------------------------------------------------

_THETA_K = 256
_THETA_HMAX = 1 << 40  # hv range: 40-bit md5 prefix keeps cnt*HMAX in int64


def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set-operation cardinalities between two document
    snapshots (A = doc_id %% 3 != 0, B = doc_id %% 2 = 0): estimate
    |A∪B|, |A∩B| and |A\\B| from two k=256 bottom-k sketches — the
    "how many NEW documents does this crawl add" question answered
    from k-sized state instead of a corpus-wide join. Values are
    40-bit md5 prefixes of the text (identical "random" permutation in
    both engines; 40 bits keep every product in exact int64 — cnt ×
    2^40 ≤ 2^49). θ_union = min(θ_A, θ_B); retained = sketch members
    below θ_union; each estimate = retained_count · 2^40 div θ —
    integer division, no float anywhere. Certified in-query against
    the exact hv-set counts with the standard ±3·|A∪B|/√k theta-sketch
    set-op bound (Dasgupta et al., the DataSketches theta error
    model), which holds at every SF.

    Scale: per-side sketches are ORDER BY hv LIMIT k →
    TakeOrderedAndProject (per-partition bottom-k partials merged at
    the driver = the sketch merge; k-sized state, no global sort); the
    deduped side table is localCheckpoint'ed ONCE and the k-row
    sketches recompute from it per consumer (deliberately NOT
    checkpointed themselves — see bottom_k; nesting a lazy checkpoint
    on a pending parent checkpoint is the construct the r6 suite-stall
    audit removed). The groupBy(hv) dedup and the exact certificate
    are the only full-width shuffles — dropped at 100 TB, kept here to
    prove the error bound on the same data."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hv = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 10), 16, 10
    ).cast("long")
    sets = (
        docs.select(
            hv.alias("hv"),
            (F.col("doc_id") % 3 != 0).cast("int").alias("in_a"),
            (F.col("doc_id") % 2 == 0).cast("int").alias("in_b"),
        )
        .groupBy("hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
        .localCheckpoint(eager=False)  # feeds ak, bk, and the certificate
    )

    def bottom_k(side: str) -> DataFrame:
        # Deliberately NOT checkpointed: a lazy checkpoint here would
        # nest on top of `sets`' still-unmaterialized lazy checkpoint
        # (child checkpoint RDD whose lineage contains a pending parent
        # checkpoint), the construct audited after the r6 one-off
        # suite stall in test_theta_setops_within_bound.  Recomputing
        # this k-row TakeOrderedAndProject from the materialized `sets`
        # for its two consumers costs ~nothing; flattening removes the
        # parent-before-child materialization-ordering question under
        # AQE entirely.
        return (
            sets.filter(F.col(side) == 1)
            .orderBy("hv")
            .limit(_THETA_K)
            .select("hv")
        )

    ak, bk = bottom_k("in_a"), bottom_k("in_b")

    def theta_of(sk: DataFrame) -> DataFrame:
        return sk.agg(
            F.when(F.count("*") >= _THETA_K, F.max("hv"))
            .otherwise(F.lit(_THETA_HMAX))
            .alias("theta")
        )

    theta_u = (
        theta_of(ak)
        .crossJoin(theta_of(bk).withColumnRenamed("theta", "tb"))
        .select(F.least("theta", "tb").alias("theta"))
    )
    members = (
        ak.select("hv", F.lit(1).alias("a"), F.lit(0).alias("b"))
        .unionByName(bk.select("hv", F.lit(0).alias("a"), F.lit(1).alias("b")))
        .crossJoin(F.broadcast(theta_u))
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("hv")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
    )
    est = members.agg(
        F.count("*").alias("c_u"),
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
        .cast("long")
        .alias("c_i"),
        F.coalesce(F.sum(F.col("in_a") * (1 - F.col("in_b"))), F.lit(0))
        .cast("long")
        .alias("c_d"),
    )
    exact = sets.agg(
        F.count("*").alias("n_u"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_i"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long").alias("n_d"),
    )
    out = est.crossJoin(exact).crossJoin(theta_u)
    for op in ("u", "i", "d"):
        out = out.withColumn(
            f"est_{op}", F.expr(f"c_{op} * {_THETA_HMAX}L div theta")
        )
    return out.select(
        F.lit(_THETA_K).alias("k"),
        "theta",
        "est_u",
        "n_u",
        "est_i",
        "n_i",
        "est_d",
        "n_d",
        F.expr("3 * n_u div 16").alias("bound_abs"),
        (
            (F.abs(F.col("est_u") - F.col("n_u")) <= F.expr("3 * n_u div 16"))
            & (F.abs(F.col("est_i") - F.col("n_i")) <= F.expr("3 * n_u div 16"))
            & (F.abs(F.col("est_d") - F.col("n_d")) <= F.expr("3 * n_u div 16"))
        )
        .cast("int")
        .alias("within_bound"),
    )


SKETCH_THETA_SQL = f"""
WITH sides AS (
  SELECT ('0x' || substr(md5(text), 1, 10))::BIGINT AS hv,
         CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS in_a,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_b
  FROM documents WHERE text IS NOT NULL
), sets AS (
  SELECT hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM sides GROUP BY hv
  HAVING MAX(in_a) = 1 OR MAX(in_b) = 1
), ak AS (SELECT hv FROM sets WHERE in_a = 1 ORDER BY hv LIMIT {_THETA_K}),
bk AS (SELECT hv FROM sets WHERE in_b = 1 ORDER BY hv LIMIT {_THETA_K}),
ta AS (SELECT CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(hv)
              ELSE {_THETA_HMAX} END AS theta FROM ak),
tb AS (SELECT CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(hv)
              ELSE {_THETA_HMAX} END AS theta FROM bk),
tu AS (SELECT LEAST(ta.theta, tb.theta) AS theta FROM ta, tb),
ret AS (
  SELECT hv, MAX(a) AS in_a, MAX(b) AS in_b FROM (
    SELECT hv, 1 AS a, 0 AS b FROM ak
    UNION ALL SELECT hv, 0, 1 FROM bk)
  WHERE hv < (SELECT theta FROM tu) GROUP BY hv
), est AS (
  SELECT COUNT(*) AS c_u,
         COALESCE(SUM(in_a * in_b), 0) AS c_i,
         COALESCE(SUM(in_a * (1 - in_b)), 0) AS c_d
  FROM ret
), ex AS (
  SELECT COUNT(*) AS n_u,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_i,
         CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_d
  FROM sets
)
SELECT {_THETA_K} AS k,
       tu.theta AS theta,
       CAST(c_u * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_u,
       n_u,
       CAST(c_i * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_i,
       n_i,
       CAST(c_d * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_d,
       n_d,
       CAST(3 * n_u // 16 AS BIGINT) AS bound_abs,
       CASE WHEN abs(c_u * {_THETA_HMAX} // tu.theta - n_u) <= 3 * n_u // 16
             AND abs(c_i * {_THETA_HMAX} // tu.theta - n_i) <= 3 * n_u // 16
             AND abs(c_d * {_THETA_HMAX} // tu.theta - n_d) <= 3 * n_u // 16
            THEN 1 ELSE 0 END AS within_bound
FROM est, ex, tu
"""


# ---------------------------------------------------------------------------
# KMV (bottom-k) overlap sketch: snapshot Jaccard without a full join
# ---------------------------------------------------------------------------

_KMV_K = 128
# Certificate bound: 3σ with σ ≈ ½/√k for the KMV Jaccard estimator
# (Beyer et al., SIGMOD 2007 give Var ≤ J(1-J)/k ≤ 1/(4k)); for k=128
# that is 3/(2·√128) ≈ 0.132583 → 132583 ppm.
_KMV_BOUND_PPM = 132583


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimate between two document snapshots via KMV
    (k-minimum-values / bottom-k) sketches, certified against the exact
    Jaccard. Snapshot A = docs with ``doc_id % 5 != 4``, snapshot B =
    ``doc_id % 5 != 0`` (a deterministic 60% content overlap — the
    "how much of last month's crawl is in this month's" question).
    Values are 60-bit md5 hashes of the text, so both engines draw the
    identical "random" permutation. Estimator: among the bottom-k of
    A∪B, the fraction also present in BOTH per-side bottom-k sketches
    (any union-sketch member belonging to a side is necessarily in
    that side's bottom-k, so sketch membership is exact). All derived
    ratios in integer ppm (``div``) — no float anywhere.

    Returns one row: (k_eff, n_a, n_b, n_union, n_both,
    jaccard_est_ppm, jaccard_exact_ppm, abs_err_ppm, within_bound).

    Scale: the sketch path is ``ORDER BY hv LIMIT k`` per side —
    Spark plans TakeOrderedAndProject: per-partition bottom-k partials
    merged at the driver, which IS the KMV merge (k-sized state per
    partition, no global sort). Each k-row sketch is then
    ``localCheckpoint``-materialized (k rows — materializing the
    sketch is the point of a sketch) so the union/membership algebra
    runs over broadcast k-row tables instead of re-deriving the
    corpus scan per consumer. The map-side-combined ``groupBy(hv)``
    dedup feeding each sketch and the exact n_a/n_b/n_both
    certificate are the only full-width shuffles — at 100 TB you keep
    the sketch path and drop the certificate; it exists here to prove
    the estimator's error bound on the same data.
    """
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hv = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    sides = docs.select(
        hv.alias("hv"),
        (F.col("doc_id") % 5 != 4).cast("int").alias("in_a"),
        (F.col("doc_id") % 5 != 0).cast("int").alias("in_b"),
    )
    # distinct VALUES with side membership (KMV is over sets)
    sets = sides.groupBy("hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    ak = (
        sets.filter(F.col("in_a") == 1)
        .orderBy("hv")
        .limit(_KMV_K)
        .select("hv")
        .localCheckpoint(eager=False)
    )
    bk = (
        sets.filter(F.col("in_b") == 1)
        .orderBy("hv")
        .limit(_KMV_K)
        .select("hv")
        .localCheckpoint(eager=False)
    )
    uk = ak.union(bk).distinct().orderBy("hv").limit(_KMV_K)
    sketch = (
        uk.join(F.broadcast(ak.withColumn("a1", F.lit(1))), "hv", "left")
        .join(F.broadcast(bk.withColumn("b1", F.lit(1))), "hv", "left")
        .agg(
            F.count("*").alias("k_eff"),
            F.sum(
                ((F.col("a1") == 1) & (F.col("b1") == 1)).cast("long")
            ).alias("c_both"),
        )
    )
    exact = sets.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.count("*").alias("n_union"),
    )
    return (
        sketch.crossJoin(exact)
        .withColumn("jaccard_est_ppm", F.expr("c_both * 1000000 div k_eff"))
        .withColumn(
            "jaccard_exact_ppm", F.expr("n_both * 1000000 div n_union")
        )
        .withColumn(
            "abs_err_ppm",
            F.abs(F.col("jaccard_est_ppm") - F.col("jaccard_exact_ppm")),
        )
        .select(
            "k_eff",
            "n_a",
            "n_b",
            "n_union",
            "n_both",
            "jaccard_est_ppm",
            "jaccard_exact_ppm",
            "abs_err_ppm",
            (F.col("abs_err_ppm") <= _KMV_BOUND_PPM)
            .cast("int")
            .alias("within_bound"),
        )
    )


SKETCH_KMV_SQL = f"""
WITH sides AS (
  SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv,
         CASE WHEN doc_id % 5 <> 4 THEN 1 ELSE 0 END AS in_a,
         CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS in_b
  FROM documents WHERE text IS NOT NULL
), sets AS (
  SELECT hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM sides GROUP BY hv
), ak AS (SELECT hv FROM sets WHERE in_a = 1 ORDER BY hv LIMIT {_KMV_K}),
bk AS (SELECT hv FROM sets WHERE in_b = 1 ORDER BY hv LIMIT {_KMV_K}),
uk AS (
  SELECT DISTINCT hv
  FROM (SELECT hv FROM ak UNION ALL SELECT hv FROM bk)
  ORDER BY hv LIMIT {_KMV_K}
), cb AS (
  SELECT COUNT(*) AS c_both FROM uk JOIN ak USING (hv) JOIN bk USING (hv)
), ke AS (SELECT COUNT(*) AS k_eff FROM uk),
ex AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
         CAST(SUM(in_b) AS BIGINT) AS n_b,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
         COUNT(*) AS n_union
  FROM sets
)
SELECT k_eff, n_a, n_b, n_union, n_both,
       c_both * 1000000 // k_eff AS jaccard_est_ppm,
       n_both * 1000000 // n_union AS jaccard_exact_ppm,
       abs(c_both * 1000000 // k_eff - n_both * 1000000 // n_union)
         AS abs_err_ppm,
       CAST(CASE WHEN abs(c_both * 1000000 // k_eff
                          - n_both * 1000000 // n_union)
                      <= {_KMV_BOUND_PPM} THEN 1 ELSE 0 END AS INT)
         AS within_bound
FROM cb, ke, ex
"""


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch: integer log buckets, bracket certificate
# ---------------------------------------------------------------------------

_HDR_M = 5  # mantissa sub-bits → relative bucket width ≤ 2^-5 = 3.125%
_HDR_QS = (500000, 900000, 990000)  # p50 / p90 / p99 in ppm


def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation via HDR-histogram-style integer
    log bucketing (exponent + top ``_HDR_M`` mantissa bits of the
    exact order-price cents) — the fixed-size, merge-by-addition
    alternative to exact sorting for p50/p90/p99 at 100 TB.  Bucketing
    is PURE INTEGER (bit-length + shifts), so every engine bins every
    value identically — no log()/float boundary drift, unlike
    DDSketch's γ-log buckets.  Instead of comparing against an exact
    quantile (which would need a global sort), the entry emits a
    BRACKET CERTIFICATE per quantile: the true rank-``target`` value
    provably lies in [est_lo, est_hi] iff ``count(cents < est_lo) <
    target <= count(cents <= est_hi)`` — two counting aggregates.
    Relative bucket width is ≤ 2^-M by construction.

    Returns one row per quantile: (q_ppm, n, target_rank, est_lo,
    est_hi, n_lt_lo, n_le_hi, bracket_ok).

    Scale: one scan → groupBy over at most ``64·2^M`` buckets
    (map-side combinable, k-sized shuffle), materialized once
    (``localCheckpoint`` of ≤2k rows — the sketch itself); total
    count, cumulative ranks, and quantile picks all derive from that
    bucket table, never from a re-scan.  The cumulative-rank window
    is deliberately UNPARTITIONED (the only one in the catalog,
    pinned gw=1): it folds the ≤2k-row bucket table, never data-sized
    input — a single-partition pass over the sketch IS the design.
    The certificate re-scans once against the 3-row broadcast
    estimate.  Sketches from different partitions/days merge by
    adding bucket counts.
    """
    from archive_to_parquet_spark.functions.exactnum import cents_col

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(cents_col("o_totalprice").alias("cents")).filter(
        F.col("cents") > 0
    )
    b = base.select(
        "cents",
        F.greatest(
            F.length(F.bin("cents")) - F.lit(1 + _HDR_M), F.lit(0)
        ).alias("s"),
    )
    buckets = (
        b.select("s", F.expr("shiftright(cents, s)").alias("sub"))
        .groupBy("s", "sub")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    ranges = buckets.select(
        "cnt",
        F.expr("shiftleft(sub, s)").alias("lo"),
        (F.expr("shiftleft(sub + 1, s)") - 1).alias("hi"),
    )
    from pyspark.sql import Window

    cum_w = Window.orderBy("lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ranges.withColumn("cum", F.sum("cnt").over(cum_w))
    qdf = spark.createDataFrame([(q,) for q in _HDR_QS], "q_ppm long")
    targets = (
        # total count comes from the bucket table — the raw data is
        # scanned once for the sketch and once for the certificate
        qdf.crossJoin(
            ranges.agg(F.sum("cnt").cast("long").alias("n"))
        )
        .withColumn(
            "target_rank", F.expr("(q_ppm * n + 999999) div 1000000")
        )
    )
    # smallest bucket whose cumulative count reaches the target rank;
    # buckets are disjoint ordered ranges, so min(lo) and min(hi) both
    # come from that same bucket
    est = (
        targets.join(cum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q_ppm", "n", "target_rank")
        .agg(F.min("lo").alias("est_lo"), F.min("hi").alias("est_hi"))
    )
    cert = (
        base.crossJoin(F.broadcast(est))
        .groupBy("q_ppm", "n", "target_rank", "est_lo", "est_hi")
        .agg(
            F.sum((F.col("cents") < F.col("est_lo")).cast("long")).alias(
                "n_lt_lo"
            ),
            F.sum((F.col("cents") <= F.col("est_hi")).cast("long")).alias(
                "n_le_hi"
            ),
        )
    )
    return cert.select(
        "q_ppm",
        "n",
        "target_rank",
        "est_lo",
        "est_hi",
        "n_lt_lo",
        "n_le_hi",
        (
            (F.col("n_le_hi") >= F.col("target_rank"))
            & (F.col("n_lt_lo") < F.col("target_rank"))
        )
        .cast("int")
        .alias("bracket_ok"),
    )


SKETCH_HDR_SQL = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
), s1 AS (
  SELECT cents,
         greatest(length(bin(cents)) - {1 + _HDR_M}, 0) AS s
  FROM base
), buckets AS (
  SELECT s, cents >> s AS sub, COUNT(*) AS cnt FROM s1 GROUP BY 1, 2
), ranges AS (
  SELECT cnt, (sub << s) AS lo, ((sub + 1) << s) - 1 AS hi FROM buckets
), cum AS (
  SELECT *, SUM(cnt) OVER (ORDER BY lo ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
  FROM ranges
), q AS (
  SELECT CAST(v AS BIGINT) AS q_ppm
  FROM (VALUES {", ".join(f"({q})" for q in _HDR_QS)}) t(v)
), n1 AS (SELECT COUNT(*) AS n FROM base),
t AS (
  SELECT q_ppm, n, (q_ppm * n + 999999) // 1000000 AS target_rank
  FROM q, n1
), est AS (
  SELECT t.q_ppm, t.n, t.target_rank,
         MIN(c.lo) AS est_lo, MIN(c.hi) AS est_hi
  FROM t JOIN cum c ON c.cum >= t.target_rank
  GROUP BY 1, 2, 3
), cert AS (
  SELECT e.q_ppm, e.n, e.target_rank, e.est_lo, e.est_hi,
         CAST(SUM(CASE WHEN b.cents < e.est_lo THEN 1 ELSE 0 END)
              AS BIGINT) AS n_lt_lo,
         CAST(SUM(CASE WHEN b.cents <= e.est_hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_le_hi
  FROM base b CROSS JOIN est e
  GROUP BY 1, 2, 3, 4, 5
)
SELECT q_ppm, n, target_rank, est_lo, est_hi, n_lt_lo, n_le_hi,
       CAST(CASE WHEN n_le_hi >= target_rank AND n_lt_lo < target_rank
                 THEN 1 ELSE 0 END AS INT) AS bracket_ok
FROM cert
"""


CATALOG = {
    "embedding_jl_projection": (embedding_jl_projection, EMBEDDING_JL_SQL),
    "dedup_bloom_probe": (dedup_bloom_probe, DEDUP_BLOOM_SQL),
    "sketch_countmin": (sketch_countmin, SKETCH_COUNTMIN_SQL),
    "rel_lateral_topk": (rel_lateral_topk, REL_LATERAL_SQL),
    "rel_salted_hot_join": (rel_salted_hot_join, REL_SALTED_SQL),
    "rel_window_funcs_panel": (rel_window_funcs_panel, REL_WINDOW_PANEL_SQL),
    "stream_archive_ingest": (stream_archive_ingest, STREAM_ARCHIVE_INGEST_SQL),
    "multimodal_content_decode": (
        multimodal_content_decode,
        MULTIMODAL_CONTENT_SQL,
    ),
    "text_boilerplate_removal": (text_boilerplate_removal, TEXT_BOILERPLATE_SQL),
    "rel_variant_json": (rel_variant_json, REL_VARIANT_SQL),
    "rel_sql_udf_priceband": (rel_sql_udf_priceband, REL_SQL_UDF_SQL),
    "ann_jl_topk": (ann_jl_topk, ANN_JL_SQL),
    "graph_triangles": (graph_triangles, GRAPH_TRIANGLES_SQL),
    "rel_skew_isolated_join": (rel_skew_isolated_join, REL_SKEW_ISOLATED_SQL),
    "eval_calibration_bins": (eval_calibration_bins, EVAL_CALIBRATION_SQL),
    "corpus_global_index": (corpus_global_index, CORPUS_GLOBAL_INDEX_SQL),
    "multimodal_phash_dedup": (multimodal_phash_dedup, MULTIMODAL_PHASH_SQL),
    "multimodal_profile": (multimodal_profile, MULTIMODAL_PROFILE_SQL),
    "maintenance_zorder_stats": (
        maintenance_zorder_stats,
        MAINTENANCE_ZORDER_SQL,
    ),
    "maintenance_upsert": (maintenance_upsert, MAINTENANCE_UPSERT_SQL),
    "rel_bucketed_join": (rel_bucketed_join, REL_BUCKETED_SQL),
    "source_url_ingest": (source_url_ingest, SOURCE_URL_INGEST_SQL),
    "crawl_warc_to_documents": (crawl_warc_to_documents, CRAWL_WARC_SQL),
    "stream_stateful_user_stats": (
        stream_stateful_user_stats,
        STREAM_STATEFUL_SQL,
    ),
    "source_incremental_convert": (
        source_incremental_convert,
        SOURCE_INCREMENTAL_SQL,
    ),
    "source_nested_walk": (source_nested_walk, SOURCE_NESTED_WALK_SQL),
    "source_pruned_manifest": (
        source_pruned_manifest,
        SOURCE_PRUNED_MANIFEST_SQL,
    ),
    "sketch_kmv_overlap": (sketch_kmv_overlap, SKETCH_KMV_SQL),
    "sketch_theta_setops": (sketch_theta_setops, SKETCH_THETA_SQL),
    "source_bucketed_join": (source_bucketed_join, SOURCE_BUCKETED_JOIN_SQL),
    "dedup_incremental_bucketed": (
        dedup_incremental_bucketed,
        DEDUP_INCREMENTAL_BUCKETED_SQL,
    ),
    "dedup_minhash_bucketed": (
        dedup_minhash_bucketed,
        DEDUP_MINHASH_BUCKETED_SQL,
    ),
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_LSH_BUCKETED_SQL),
    "stream_ann_index_append": (
        stream_ann_index_append,
        STREAM_ANN_INDEX_APPEND_SQL,
    ),
    "maintenance_incremental_agg": (
        maintenance_incremental_agg,
        MAINTENANCE_INCREMENTAL_AGG_SQL,
    ),
    "sample_weighted_priority": (
        sample_weighted_priority,
        SAMPLE_WEIGHTED_PRIORITY_SQL,
    ),
    "sketch_hdr_quantiles": (sketch_hdr_quantiles, SKETCH_HDR_SQL),
    "multimodal_resize": (multimodal_resize, MULTIMODAL_RESIZE_SQL),
    "dedup_substring_exact": (dedup_substring_exact, DEDUP_SUBSTRING_EXACT_SQL),
    "dedup_cdc_chunks": (dedup_cdc_chunks, DEDUP_CDC_CHUNKS_SQL),
    "dedup_cdc_gear": (dedup_cdc_gear, DEDUP_CDC_GEAR_SQL),
}
