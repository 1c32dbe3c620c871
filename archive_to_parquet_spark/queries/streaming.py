"""Streaming family: Structured Streaming entries driven to completion
over bounded inputs, each oracle-checked against the batch result its
watermark semantics imply. ``bench.py`` and ``plans.audit`` skip this
family: a streaming build runs its query to completion.

Every entry runs on one bounded-stream harness:

- staging: ``_fresh_stage`` clears the entry's deterministic
  ``_stage_dir`` when the build starts. Arrivals, checkpoint, sinks
  and state all live under it until the next build of the same entry,
  so the returned frame may read them lazily.
- arrival: ``_arrive`` writes each frame as one parquet file with a
  deterministic mtime, and the stream reads one file per micro-batch.
  The watermark entries arrive as ONE frame: sliced, every batch after
  the first would drop its late rows behind the advanced watermark.
- drive: ``_drain_to_memory`` (memory sink) and ``_drain_each_batch``
  (foreachBatch) run every available micro-batch, then stop the query.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from archive_to_parquet_spark.operators.dedup import (
    _SFX_MIN,
    _SFX_SQL_PRELUDE,
    _SFX_SQL_WHERE,
)
from archive_to_parquet_spark.operators.similarity import fixed_hyperplanes
from archive_to_parquet_spark.queries.maintenance import EVAL_PSI_SQL
from archive_to_parquet_spark.queries.relational import (
    _read_events,
    _stage_dir,
    _t,
)
from archive_to_parquet_spark.queries.similarity import (
    _ALSHBK_DIM,
    _ALSHBK_PLANES,
    _alshbk_sql_planes,
)


_ARRIVAL_T0 = 1_700_000_000  # arrival k's mtime is T0 + 10·k


def _fresh_stage(entry: str, sf_dir: str) -> str:
    """The entry's ``_stage_dir``, emptied: a build starts with no
    arrivals, checkpoint or sink output left by an earlier build."""
    stage = _stage_dir(entry, sf_dir)
    shutil.rmtree(stage)
    os.makedirs(stage)
    return stage


def _slices(df: DataFrame, key: str) -> list[DataFrame]:
    """The sliced arrival: the rows with ``key % 4 == k`` arrive k-th."""
    return [df.filter(F.col(key) % 4 == k) for k in range(4)]


def _arrive(
    spark: SparkSession, stage: str, frames: list[DataFrame]
) -> DataFrame:
    """Stage ``frames`` as the stream's input: frame k becomes the one
    parquet file ``<stage>/in/kk.parquet`` with mtime T0 + 10·k, and
    the returned stream reads one file per micro-batch, in that order."""
    src = os.path.join(stage, "in")
    os.makedirs(src)
    for k, frame in enumerate(frames):
        tmp = os.path.join(stage, f"slice{k}")
        frame.coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(src, f"{k:02d}.parquet")
        os.replace(part, dst)
        t = _ARRIVAL_T0 + 10 * k
        os.utime(dst, (t, t))
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _drive(writer: DataStreamWriter, stage: str) -> None:
    """The one drive: start ``writer`` with its checkpoint under
    ``stage``, run every micro-batch the input makes available
    (``processAllAvailable`` includes the final batch a watermark
    advance adds), then stop the query."""
    q = writer.option("checkpointLocation", os.path.join(stage, "ckpt")).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _drain_to_memory(
    spark: SparkSession,
    entry: str,
    stream: DataFrame,
    stage: str,
    mode: str = "append",
) -> DataFrame:
    """Drive ``stream`` into a fresh memory table named
    ``{entry}_<8 hex>`` (output ``mode``) and return that table. The
    entry's memory tables from earlier builds are dropped first, so a
    session holds the rows of one build per entry."""
    earlier = re.compile(rf"{entry}_[0-9a-f]{{8}}")
    for table in spark.catalog.listTables():
        if table.isTemporary and earlier.fullmatch(table.name):
            spark.catalog.dropTempView(table.name)
    name = f"{entry}_{uuid.uuid4().hex[:8]}"
    _drive(
        stream.writeStream.outputMode(mode).format("memory").queryName(name),
        stage,
    )
    return spark.table(name)


def _drain_each_batch(
    entry: str,
    stream: DataFrame,
    stage: str,
    each_batch: Callable[[DataFrame, int], None],
    mode: str = "append",
) -> None:
    """Drive ``stream`` through ``foreachBatch(each_batch)``. Each
    staged arrival must be its own micro-batch, because the oracles of
    the sliced entries state per-batch results; any other count of
    micro-batches raises RuntimeError."""
    batch_ids: list[int] = []

    def run(batch: DataFrame, batch_id: int) -> None:
        batch_ids.append(batch_id)
        each_batch(batch, batch_id)

    _drive(stream.writeStream.outputMode(mode).foreachBatch(run), stage)
    n = len(os.listdir(os.path.join(stage, "in")))
    if len(batch_ids) != n:
        raise RuntimeError(
            f"{entry}: expected {n} micro-batches, one per arrival, "
            f"ran {len(batch_ids)}"
        )


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg driven to completion over
    the bounded events table (memory sink, processAllAvailable).

    Oracle-checked: append mode emits exactly the watermark-finalized
    windows — those with window_end ≤ max(event_time) − 2 h, since
    processAllAvailable runs a final batch after the watermark advances
    to cover all input. The batch oracle reproduces that cutoff with
    plain SQL (boundary semantics pinned by
    tests/test_streaming.py::test_append_mode_watermark_boundary)."""
    from archive_to_parquet_spark.streaming.events import windowed_event_counts

    stage = _fresh_stage("stream_events_hourly", sf_dir)
    stream = _arrive(spark, stage, [_read_events(spark, sf_dir)])
    agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
    return _drain_to_memory(spark, "stream_events_hourly", agg, stage).select(
        F.col("window_start").cast("long").alias("hour_sec"),
        "event_type",
        "n",
        F.round("total_value", 4).alias("total_value"),
    )


STREAM_EVENTS_HOURLY_SQL = """
WITH b AS (
  SELECT epoch_ns(ts) // 1000000000 AS ts_sec, event_type, value FROM events
), agg AS (
  SELECT ts_sec - ts_sec % 3600 AS hour_sec, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS total_value
  FROM b GROUP BY 1, 2
)
SELECT hour_sec, event_type, n, total_value FROM agg
WHERE hour_sec + 3600 <= (SELECT max(ts_sec) - 7200 FROM b)
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min inactivity gap) driven to
    completion — the streaming twin of rel_sessionize, at full session
    granularity.

    Oracle-checked: append mode emits sessions finalized by the
    watermark (session_end = last event + gap ≤ max event time − 2 h).
    The SQL twin sessionizes with lag+cumsum using session_window's
    INCLUSIVE merge semantics — an event exactly ``gap`` seconds after
    the previous one still merges (pinned by a sf0.1 pair at exactly
    1800 s; the ``>=`` variant splits it and diverges) — then applies
    the same cutoff."""
    from archive_to_parquet_spark.streaming.events import sessionized_counts_stream

    stage = _fresh_stage("stream_sessionize", sf_dir)
    stream = _arrive(spark, stage, [_read_events(spark, sf_dir)])
    agg = sessionized_counts_stream(stream, gap="30 minutes", watermark="2 hours")
    return _drain_to_memory(spark, "stream_sessionize", agg, stage).select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


STREAM_SESSIONIZE_SQL = """
WITH b AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec, value FROM events
), flagged AS (
  SELECT user_id, ts_sec, value, event_id,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id
                                              ORDER BY ts_sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM b
), sess AS (
  SELECT user_id, ts_sec, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id,
         min(ts_sec) AS session_start,
         max(ts_sec) + 1800 AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS total_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg
WHERE session_end <= (SELECT max(ts_sec) - 7200 FROM b)
"""


def stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join driven to completion:
    every (click, purchase) pair for the same user with the purchase
    within 1 hour of the click. Both sides are watermarked and the join
    carries a two-sided time-range predicate, so state stays bounded on
    a real stream; over the bounded input the inner join emits exactly
    the batch join result, so the SQL twin is an exact oracle."""
    from archive_to_parquet_spark.streaming.events import interval_join_stream

    stage = _fresh_stage("stream_click_purchase", sf_dir)
    stream = _arrive(spark, stage, [_read_events(spark, sf_dir)])
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = interval_join_stream(clicks, purchases, within="1 hour")
    return _drain_to_memory(spark, "stream_click_purchase", joined, stage).select(
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        F.col("l_user").alias("user_id"),
        (F.col("r_time").cast("long") - F.col("l_time").cast("long")).alias(
            "gap_sec"
        ),
    )


STREAM_CLICK_PURCHASE_SQL = """
-- join at MICROSECOND precision (the stream compares real
-- timestamps); gap_sec floors each side to seconds, matching
-- Spark's cast(timestamp as long)
WITH b AS (
  SELECT event_id, user_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       (p.ts_us // 1000000) - (c.ts_us // 1000000) AS gap_sec
FROM b c JOIN b p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000
"""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) driven to
    completion: the surviving KEY SET is deterministic (first-arrival
    winners are not, so only keys are emitted), and over a bounded
    input it equals batch DISTINCT — the SQL twin is exact. State is
    watermark-bounded on a real stream."""
    from archive_to_parquet_spark.streaming.events import dedup_stream

    stage = _fresh_stage("stream_dedup_keys", sf_dir)
    stream = _arrive(spark, stage, [_read_events(spark, sf_dir)])
    deduped = dedup_stream(stream, ["user_id", "event_type"], "2 hours")
    return _drain_to_memory(spark, "stream_dedup_keys", deduped, stage).select(
        "user_id", "event_type"
    )


STREAM_DEDUP_KEYS_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def stream_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup over a documents STREAM: the corpus arrives
    as 4 slice files (doc_id % 4), one per micro-batch; each batch
    probes the accumulated MinHash band index for cross-batch
    collisions, self-joins for intra-batch ones, and appends its own
    band rows (streaming/neardup.py — the probe+append loop of
    dedup_incremental driven by Structured Streaming foreachBatch).
    The emitted pair set is invariant to
    batch boundaries (each colliding pair is found exactly once, by
    the later arrival), so over the bounded stream it equals batch
    all-pairs banding; after exact-Jaccard confirmation (≥ 0.5) the
    oracle is the full exact pair set — same recall-by-construction
    as dedup_minhash. The reference has no near-dup tier (its
    `unique` is exact sha256, src/lib.rs:30); this is the streaming
    extension of that dedup model."""
    from archive_to_parquet_spark.operators.candidates import exact_jaccard
    from archive_to_parquet_spark.operators.dedup import shingle_sets
    from archive_to_parquet_spark.streaming.neardup import probe_and_append

    docs = _t(spark, sf_dir, "documents")
    stage = _fresh_stage("stream_neardup_incremental", sf_dir)
    index_dir = os.path.join(stage, "index")
    pairs_dir = os.path.join(stage, "pairs")

    def each_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            probe_and_append(
                spark, batch, index_dir, pairs_dir, batch_id=batch_id
            )

    stream = _arrive(spark, stage, _slices(docs, "doc_id"))
    _drain_each_batch("stream_neardup_incremental", stream, stage, each_batch)
    cand = (
        spark.read.parquet(pairs_dir)
        .drop("batch_id")  # per-batch partition of the pair sink
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = shingle_sets(docs, "doc_id", "text", 3)
    return exact_jaccard(cand, sh, 0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


STREAM_NEARDUP_INCREMENTAL_SQL = r"""
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
  FROM e a JOIN e b ON a.g = b.g
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
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
    tiny, watermark-free by design. The shards are JSONL text, so they
    arrive as two text files written here rather than through the
    parquet stager.
    """
    docs = _t(spark, sf_dir, "documents")
    valid = F.to_json(
        F.struct(F.col("doc_id").alias("id"), F.col("lang").alias("lang"))
    )
    raw = F.when(F.col("doc_id") % 5 == 0, F.substring(valid, 1, 10)).otherwise(
        valid
    )
    stage = _fresh_stage("stream_parse_quarantine", sf_dir)
    shards = os.path.join(stage, "in")
    docs.select(raw.alias("value")).coalesce(2).write.text(shards)
    stream = spark.readStream.format("text").load(shards)
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
    return _drain_to_memory(
        spark, "stream_parse_quarantine", agg, stage, "complete"
    ).select("ok", "parsed_lang", "n")


STREAM_PARSE_QUARANTINE_SQL = """
SELECT CAST(doc_id % 5 <> 0 AS INT) AS ok,
       CASE WHEN doc_id % 5 <> 0 THEN lang END AS parsed_lang,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
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

    from archive_to_parquet_spark.sources.datasource import register

    register(spark)
    stage = _fresh_stage("stream_archive_ingest", sf_dir)
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
# Custom stateful streaming operator, driver-checked
# ---------------------------------------------------------------------------

def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` custom stateful operator
    (streaming/stateful.py running_user_stats) driver-checked: a subset
    of events streams through a real query in 4 micro-batches
    (event_id % 4 slices, one file per trigger), and the per-user
    lifetime stats must equal the batch ground truth — the oracle
    states it as plain SQL. Update mode emits only the users a batch
    touched, carrying the stats accumulated in the state store, so
    foreachBatch writes each batch to its own ``batch_id=N`` partition
    (overwrite: a replay rewrites its own rows; update mode has no file
    sink) and the result takes each user's row from the latest batch
    that emitted it. Every field is in the contract: counts and min/max
    are exact set extrema, and the running total accumulates integer
    CENTS inside the state (streaming/stateful.py), so it is
    batch-order- and partitioning-independent and compares exactly
    against the oracle's integer-cents sum.
    """
    from archive_to_parquet_spark.streaming.stateful import running_user_stats

    stage = _fresh_stage("stream_stateful_user_stats", sf_dir)
    out = os.path.join(stage, "out")
    subset = _read_events(spark, sf_dir).filter(F.col("user_id") < 20).select(
        "event_id", "user_id", "value"
    )
    stream = _arrive(spark, stage, _slices(subset, "event_id"))
    _drain_each_batch(
        "stream_stateful_user_stats",
        running_user_stats(stream.select("user_id", "value")),
        stage,
        lambda batch, batch_id: batch.write.mode("overwrite").parquet(
            os.path.join(out, f"batch_id={batch_id}")
        ),
        mode="update",
    )
    rows = spark.read.parquet(out)
    latest = rows.groupBy("user_id").agg(F.max("batch_id").alias("batch_id"))
    return rows.join(latest, ["user_id", "batch_id"]).select(
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

    Scale shape, checked in-query (RuntimeError otherwise): the profile
    groupBy("bucket") — and even its two-phase DISTINCT expansion,
    whose keys (bucket, vec_id) ⊇ the bucket key — plans with ZERO
    shuffle Exchanges over the appended table. At 100 TB this is the
    daily health check of the index you serve from; it never moves a
    row.

    Machinery lives in streaming/ann_index.py (replay idempotence has
    its own crash-replay test there)."""
    from archive_to_parquet_spark.plans.bucketing import plan_has_exchange
    from archive_to_parquet_spark.streaming.ann_index import (
        append_vectors_batch,
        index_profile,
    )

    emb = _t(spark, sf_dir, "embeddings")
    planes = fixed_hyperplanes(_ALSHBK_PLANES, _ALSHBK_DIM)
    table = "stream_ann_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    stage = _fresh_stage("stream_ann_index_append", sf_dir)
    idx = os.path.join(stage, "idx")
    stream = _arrive(spark, stage, _slices(emb, "vec_id"))
    _drain_each_batch(
        "stream_ann_index_append",
        stream,
        stage,
        lambda batch, _batch_id: append_vectors_batch(batch, table, idx, planes),
    )
    profile = index_profile(spark, table)
    if plan_has_exchange(profile):
        raise RuntimeError(
            "stream_ann_index_append: the bucketed index profile plans a "
            "shuffle Exchange"
        )
    return profile


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


def stream_suffix_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The suffix family under continuous arrival: the corpus arrives
    as 4 slice files (doc_id % 4), one per micro-batch; each batch
    suffix-expands its documents ONCE (``_suffix_rows`` — the same
    builder as ``dedup_suffix_lcp`` and its bucketed twin), probes the
    accumulated 25-char-prefix index for the prefixes it INTRODUCES,
    emits that delta with batch-local first_doc/count, and appends its
    prefixes to the index (streaming/suffix_index.py — probe + append,
    never re-derive).

    Deterministic closed form the oracle states: each prefix is
    emitted exactly once, by the FIRST batch (min doc_id % 4)
    containing it, with first_doc and n_suffixes computed within that
    batch. Replays are batch_id-keyed idempotent (overwrite + a
    same-batch exclusion in the probe), so the bounded stream's delta
    union equals the closed form regardless of restarts.

    Scale: this is the daily substring-index maintenance loop at
    100 TB — arriving shards are normalized and suffix-expanded
    exactly once, stored state is probe+append; persisted bucketed on
    ``pfx`` (the bucketed twin's layout) the probe never re-shuffles
    the index."""
    from archive_to_parquet_spark.streaming.neardup import _index_exists
    from archive_to_parquet_spark.streaming.suffix_index import (
        probe_and_append_prefixes,
    )

    docs = _t(spark, sf_dir, "documents")
    stage = _fresh_stage("stream_suffix_incremental", sf_dir)
    index_dir = os.path.join(stage, "index")
    delta_dir = os.path.join(stage, "delta")

    def each_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            probe_and_append_prefixes(
                spark, batch, index_dir, delta_dir, batch_id=batch_id
            )

    stream = _arrive(spark, stage, _slices(docs, "doc_id"))
    _drain_each_batch("stream_suffix_incremental", stream, stage, each_batch)
    if not _index_exists(delta_dir):
        # a corpus where no batch yields a ≥25-char word-start
        # suffix writes no delta at all; the oracle returns 0 rows
        # — return the same empty relation instead of crashing on
        # a missing parquet path
        return spark.createDataFrame(
            [],
            "pfx string, first_doc bigint, n_suffixes bigint,"
            " first_batch bigint",
        )
    return spark.read.parquet(delta_dir).select(
        "pfx",
        "first_doc",
        "n_suffixes",
        F.col("batch_id").cast("bigint").alias("first_batch"),
    )


STREAM_SUFFIX_INCREMENTAL_SQL = f"""
WITH {_SFX_SQL_PRELUDE},
sfx AS (
  SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch,
         substr(norm, g.pos, {_SFX_MIN}) AS pfx
  FROM norm, series g
  WHERE {_SFX_SQL_WHERE}
),
fb AS (SELECT pfx, MIN(batch) AS batch FROM sfx GROUP BY pfx)
SELECT s.pfx,
       CAST(MIN(s.doc_id) AS BIGINT) AS first_doc,
       CAST(COUNT(*) AS BIGINT) AS n_suffixes,
       f.batch AS first_batch
FROM sfx s
JOIN fb f ON s.pfx = f.pfx AND s.batch = f.batch
GROUP BY s.pfx, f.batch
"""


# ---------------------------------------------------------------------------
# Streaming constraint monitor (the audit suite under continuous arrival)
# ---------------------------------------------------------------------------

def stream_constraint_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constraint suite under CONTINUOUS arrival — events stream in
    4 micro-batches (event_id % 4 slices, one file per trigger) and
    foreachBatch folds each batch to a one-row ALGEBRAIC partial
    (counts only) written to a batch_id-keyed state path; the report
    merges partials by summation, so it is invariant to batch
    boundaries — the oracle IS the whole-table computation, and the
    driver row certifies merge(partials) == agg(all). A replayed
    micro-batch OVERWRITES its own partial (idempotence by layout, the
    ``stream_neardup_incremental`` precedent — crash-replay has a unit
    test). Deequ's incremental-metrics design (Schelter et al., VLDB
    2018 §3.3); reference contract K4's counters under arrival.

    Scale shape: per batch, one map-side-combinable fold to ONE row;
    state grows one row per micro-batch regardless of batch size; the
    report aggregates batch-count rows. The monitor never rescans
    arrived data — the same never-rescan-the-base argument as
    ``maintenance_incremental_agg``, carried to quality metrics."""
    from archive_to_parquet_spark.streaming.quality import (
        constraint_report,
        write_batch_partial,
    )

    events = _read_events(spark, sf_dir).select(
        "event_id", "event_type", "value", "props"
    )
    stage = _fresh_stage("stream_constraint_monitor", sf_dir)
    state = os.path.join(stage, "state")
    stream = _arrive(spark, stage, _slices(events, "event_id"))
    _drain_each_batch(
        "stream_constraint_monitor",
        stream,
        stage,
        lambda batch, batch_id: write_batch_partial(batch, batch_id, state),
    )
    return constraint_report(spark, state)


STREAM_CONSTRAINT_MONITOR_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS n_props_ok,
         SUM(CASE WHEN event_type IN
               ('click','view','signup','purchase','error')
             THEN 1 ELSE 0 END) AS n_type_ok,
         SUM(CASE WHEN value BETWEEN 0.0 AND 300.0 THEN 1 ELSE 0 END)
           AS n_value_ok,
         COUNT(DISTINCT event_id) AS n_id
  FROM events
),
report AS (
  SELECT 'completeness_props' AS constraint_name,
         round(n_props_ok / CAST(n AS DOUBLE), 6) AS metric,
         CAST(1.0 AS DOUBLE) AS threshold FROM agg
  UNION ALL SELECT 'set_event_type',
         round(n_type_ok / CAST(n AS DOUBLE), 6), 1.0 FROM agg
  UNION ALL SELECT 'bounds_value_0_300',
         round(n_value_ok / CAST(n AS DOUBLE), 6), 0.998 FROM agg
  UNION ALL SELECT 'unique_event_id',
         round(n_id / CAST(n AS DOUBLE), 6), 1.0 FROM agg
)
SELECT constraint_name, metric, threshold,
       CASE WHEN metric >= threshold THEN 'pass' ELSE 'fail' END AS status
FROM report
"""


# ---------------------------------------------------------------------------
# PSI drift monitor under continuous arrival
# ---------------------------------------------------------------------------

def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor under CONTINUOUS arrival — events stream
    in 4 micro-batches (event_id % 4 slices, one file per trigger) and
    foreachBatch folds each batch to a ≤10-row ALGEBRAIC per-bin
    partial written to a batch_id-keyed state path; the report merges
    partials by summation and computes the IDENTICAL PSI the batch
    entry emits, so the oracle is ``eval_psi_drift``'s whole-table SQL
    verbatim and the driver row certifies merge(partials) ==
    one-pass(all).  A replayed micro-batch OVERWRITES its own partial
    (idempotence by layout — the ``stream_constraint_monitor``
    precedent).  Production shape: the monitor never rescans arrived
    data; state grows ≤10 rows per micro-batch regardless of batch
    size.

    Scale shape: per batch one map-side-combinable fold to ≤10 rows;
    the report aggregates batch_count·10 rows — a drift dashboard over
    a 100-TB/day stream costs a 10-integer fold per trigger."""
    from archive_to_parquet_spark.streaming.quality import (
        psi_report,
        write_psi_partial,
    )

    events = _read_events(spark, sf_dir).select("event_id", "value")
    stage = _fresh_stage("stream_psi_drift", sf_dir)
    state = os.path.join(stage, "state")
    stream = _arrive(spark, stage, _slices(events, "event_id"))
    _drain_each_batch(
        "stream_psi_drift",
        stream,
        stage,
        lambda batch, batch_id: write_psi_partial(batch, batch_id, state),
    )
    return psi_report(spark, state)


ENTRIES = {
    "stream_events_hourly": (stream_events_hourly, STREAM_EVENTS_HOURLY_SQL),
    "stream_sessionize": (stream_sessionize, STREAM_SESSIONIZE_SQL),
    "stream_click_purchase": (stream_click_purchase, STREAM_CLICK_PURCHASE_SQL),
    "stream_dedup_keys": (stream_dedup_keys, STREAM_DEDUP_KEYS_SQL),
    "stream_neardup_incremental": (
        stream_neardup_incremental,
        STREAM_NEARDUP_INCREMENTAL_SQL,
    ),
    "stream_parse_quarantine": (stream_parse_quarantine, STREAM_PARSE_QUARANTINE_SQL),
    "stream_archive_ingest": (stream_archive_ingest, STREAM_ARCHIVE_INGEST_SQL),
    "stream_stateful_user_stats": (stream_stateful_user_stats, STREAM_STATEFUL_SQL),
    "stream_ann_index_append": (stream_ann_index_append, STREAM_ANN_INDEX_APPEND_SQL),
    "stream_constraint_monitor": (
        stream_constraint_monitor,
        STREAM_CONSTRAINT_MONITOR_SQL,
    ),
    "stream_suffix_incremental": (
        stream_suffix_incremental,
        STREAM_SUFFIX_INCREMENTAL_SQL,
    ),
    "stream_psi_drift": (stream_psi_drift, EVAL_PSI_SQL),
}
