"""Structured Streaming smoke tests — memory sink + availableNow/
processAllAvailable drive a bounded batch through the streaming path."""

from __future__ import annotations

import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F
import pytest

from archive_to_parquet_spark.queries.maintenance import eval_psi_drift
from tests.conftest import tar_archive
from tests.test_plan_shapes import SF_DIR


@pytest.fixture()
def event_stream_dir(spark, tmp_path):
    """A small parquet directory of events with proper timestamps."""
    src = str(tmp_path / "events_in")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.coalesce(1).write.parquet(src)
    return src


def test_windowed_counts_stream(spark, event_stream_dir):
    from archive_to_parquet_spark.streaming.events import windowed_event_counts

    schema = spark.read.parquet(event_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM win_counts").collect()
    finally:
        q.stop()
    # append mode emits only watermark-finalized windows; the tail stays
    # open, so compare against all-but-the-last-2h of the batch twin
    assert len(out) > 0
    for r in out:
        assert r.n >= 1
        assert (r.window_end.hour - r.window_start.hour) % 24 in (0, 1)


def test_append_mode_watermark_boundary(spark, tmp_path):
    """Pins the append-mode emission predicate that the
    stream_events_hourly oracle encodes: a window whose end equals
    max(event_time) − delay exactly IS emitted (window_end ≤ watermark,
    not <)."""
    from archive_to_parquet_spark.streaming.events import windowed_event_counts

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    rows = [
        # one event in hour 2 → window [base+2h, base+3h)
        (1, (base + 2 * 3600 + 5) * 1_000_000_000, "u1", "click", 1.0),
        # max event at EXACTLY base+5h → watermark lands on base+3h,
        # exactly the end of the hour-2 window
        (2, (base + 5 * 3600) * 1_000_000_000, "u2", "click", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id string, event_type string, value double"
    )
    src = str(tmp_path / "boundary_in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_boundary")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM wm_boundary").collect()
    finally:
        q.stop()
    ends = {int(r.window_end.timestamp()) for r in out}
    assert base + 3 * 3600 in ends, (
        f"window ending exactly at the watermark was not emitted: {sorted(ends)}"
    )
    # the max event's own window stays open
    assert base + 6 * 3600 not in ends


def test_session_window_stream(spark, event_stream_dir):
    from archive_to_parquet_spark.streaming.events import sessionized_counts_stream

    schema = spark.read.parquet(event_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    sess = sessionized_counts_stream(stream, gap="30 minutes", watermark="2 hours")
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM sessions").collect()
    finally:
        q.stop()
    assert len(out) > 0
    for r in out:
        assert r.session_end > r.session_start
        assert r.n_events >= 1


def test_dedup_stream(spark, event_stream_dir):
    from archive_to_parquet_spark.streaming.events import dedup_stream

    schema = spark.read.parquet(event_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    deduped = dedup_stream(stream, ["user_id"], watermark="365 days")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT user_id, COUNT(*) AS n FROM dedup_out GROUP BY user_id").collect()
    finally:
        q.stop()
    assert len(out) > 0
    assert all(r.n == 1 for r in out)


def test_stateful_running_user_stats(spark, event_stream_dir):
    from archive_to_parquet_spark.streaming.stateful import running_user_stats

    schema = spark.read.parquet(event_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    stats = running_user_stats(stream)
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("user_stats")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            r.user_id: r
            for r in spark.sql(
                # update mode may emit a row per micro-batch; keep the latest
                "SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn FROM user_stats) WHERE rn = 1"
            ).collect()
        }
    finally:
        q.stop()
    # cross-check against the batch ground truth
    batch = spark.read.parquet(event_stream_dir).groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    for r in batch.collect():
        assert out[r.user_id].n_events == r.n
        assert abs(out[r.user_id].total_value - r.total) < 1e-6


def _drain(query, timeout_s: float = 120) -> None:
    """Wait for an availableNow stream_convert query to finish."""
    deadline = time.time() + timeout_s
    try:
        while query.isActive and time.time() < deadline:
            time.sleep(0.5)
    finally:
        if query.isActive:
            query.stop()
    assert query.exception() is None, query.exception()


def test_stream_convert_watches_directory(spark, tmp_path):
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.streaming.stream_convert import stream_convert

    watch = tmp_path / "incoming"
    watch.mkdir()
    (watch / "a.tar").write_bytes(
        tar_archive({"f1.txt": b"stream me", "f2.txt": b"stream me too"})
    )
    out = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt")
    _drain(stream_convert(spark, str(watch), out, ckpt, ConvertOptions()))
    table = pq.read_table(out)
    assert sorted(r["path"] for r in table.to_pylist()) == ["f1.txt", "f2.txt"]
    contents = {r["path"]: r["content"] for r in table.to_pylist()}
    assert contents["f1.txt"] == b"stream me"


def test_stream_convert_unique_is_global(spark, tmp_path):
    """``unique`` holds across micro-batches: an archive arriving in a
    later run whose member bytes the output already has adds no row."""
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.streaming.stream_convert import stream_convert

    watch = tmp_path / "incoming"
    watch.mkdir()
    out = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt")
    opts = ConvertOptions(unique=True)
    (watch / "a.tar").write_bytes(tar_archive({"a.txt": b"same member bytes"}))
    _drain(stream_convert(spark, str(watch), out, ckpt, opts))
    (watch / "b.tar").write_bytes(tar_archive({"b.txt": b"same member bytes"}))
    _drain(stream_convert(spark, str(watch), out, ckpt, opts))
    assert pq.read_table(out).num_rows == 1


def test_stream_convert_pruned_columns(spark, tmp_path):
    """A pruned ``columns`` projection streams into a pruned output."""
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.streaming.stream_convert import stream_convert

    watch = tmp_path / "incoming"
    watch.mkdir()
    (watch / "a.tar").write_bytes(tar_archive({"f1.txt": b"pruned stream"}))
    out = str(tmp_path / "out_parquet")
    opts = ConvertOptions(columns=("source", "path", "hash"))
    _drain(stream_convert(spark, str(watch), out, str(tmp_path / "ckpt"), opts))
    table = pq.read_table(out)
    assert table.column_names == ["source", "path", "hash"]
    assert table.column("path").to_pylist() == ["f1.txt"]


def test_interval_join_stream_pairs(spark, tmp_path):
    """Stream-stream interval join: in-window pairs emitted, out-of-window
    and cross-user pairs excluded."""
    import pandas as pd

    from archive_to_parquet_spark.streaming.events import interval_join_stream

    base = 1_700_000_000
    rows = [
        # user 1: click at t0; purchases at +30min (in) and +2h (out)
        (1, base, 10, "click", 1.0),
        (2, base + 1800, 10, "purchase", 5.0),
        (3, base + 7200, 10, "purchase", 6.0),
        # user 2: purchase 10 s BEFORE the click — excluded (one-sided)
        (4, base + 10, 20, "click", 1.0),
        (5, base, 20, "purchase", 2.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"] * 1_000_000_000  # int64 nanos like the driver data
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    joined = interval_join_stream(
        stream.filter("event_type = 'click'"),
        stream.filter("event_type = 'purchase'"),
        within="1 hour",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_test")
        .start()
    )
    try:
        q.processAllAvailable()
        out = [(r.l_id, r.r_id) for r in spark.sql("SELECT * FROM ij_test").collect()]
    finally:
        q.stop()
    assert sorted(out) == [(1, 2)]


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Kill a file-source → file-sink stream mid-corpus, restart it from
    the same checkpoint, and verify exactly-once delivery: the already-
    processed shard is NOT re-emitted after restart (the source's file
    log lives in the checkpoint), and nothing is lost."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    half1.coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_phase1 = spark.read.parquet(sink).count()
    assert n_phase1 == half1.count()
    # second shard arrives while the stream is DOWN; restart from ckpt
    half2.coalesce(1).write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()  # nothing lost...
    assert out.select("event_id").distinct().count() == ev.count()  # ...no dupes


def test_stream_neardup_equals_batch(spark):
    """The streaming probe/append loop must emit exactly the batch-mode
    all-pairs band-collision set (exact-confirmed): the pair union is
    invariant to micro-batch boundaries."""
    from archive_to_parquet_spark.queries.streaming import stream_neardup_incremental
    from archive_to_parquet_spark.operators.dedup import (
        minhash_near_duplicates_confirmed,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in stream_neardup_incremental(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in minhash_near_duplicates_confirmed(
            docs, jaccard_threshold=0.5
        ).collect()
    }
    assert streamed == batch
    assert streamed, "corpus should contain at least one near-dup pair"


def test_neardup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch (same batch_id)
    must neither grow the band index nor emit self-pairs from matching
    its own previously-appended band rows."""
    from archive_to_parquet_spark.streaming.neardup import probe_and_append

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(40)
    )
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")

    probe_and_append(spark, docs, index_dir, pairs_dir, batch_id=0)
    idx_rows = spark.read.parquet(index_dir).count()
    pairs1 = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_dir).select("id_a", "id_b").collect()
    }

    # Replay the SAME batch: index already holds batch 0's band rows,
    # so the cross-batch probe runs this time — the a.id != b.id guard
    # must keep Jaccard(x,x)=1 self-pairs out, and the overwrite write
    # must leave index state unchanged.
    probe_and_append(spark, docs, index_dir, pairs_dir, batch_id=0)
    assert spark.read.parquet(index_dir).count() == idx_rows
    pairs2 = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_dir).select("id_a", "id_b").collect()
    }
    assert pairs2 == pairs1
    assert all(a != b for a, b in pairs2)


def test_neardup_index_probe_ignores_crash_debris(spark, tmp_path):
    """ADVICE r6: a crashed in-flight write leaves part files under
    _temporary/ that spark.read.parquet ignores — the existence probe
    must ignore them too, or the first real batch after a crash tries
    to read an index with no committable footprint and fails on schema
    inference."""
    from archive_to_parquet_spark.streaming.neardup import (
        _index_exists,
        probe_and_append,
    )

    index_dir = tmp_path / "index"
    debris = index_dir / "batch_id=0" / "_temporary" / "0" / "task_000"
    debris.mkdir(parents=True)
    (debris / "part-00000.parquet").write_bytes(b"not a real footer")
    (index_dir / ".hidden.parquet").write_bytes(b"")
    assert not _index_exists(str(index_dir))

    # a first batch over the debris still works end-to-end
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(20)
    )
    probe_and_append(
        spark, docs, str(index_dir), str(tmp_path / "pairs"), batch_id=1
    )
    assert _index_exists(str(index_dir))
    assert spark.read.parquet(str(index_dir)).count() > 0


def test_ann_index_replay_is_idempotent(spark, tmp_path):
    """A failure-replayed micro-batch appends a SECOND copy of its rows
    to the bucketed ANN index — the profile (COUNT DISTINCT + MIN per
    bucket) must not change: idempotence rides the layout, not a
    transactional sink (streaming/ann_index.py)."""
    from archive_to_parquet_spark.operators.similarity import (
        fixed_hyperplanes,
    )
    from archive_to_parquet_spark.streaming.ann_index import (
        append_vectors_batch,
        index_profile,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = fixed_hyperplanes(8, 64)
    table, path = "annidx_replay_t", str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        b0 = emb.filter(F.col("vec_id") % 2 == 0)
        b1 = emb.filter(F.col("vec_id") % 2 == 1)
        append_vectors_batch(b0, table, path, planes)
        append_vectors_batch(b1, table, path, planes)
        before = sorted(tuple(r) for r in index_profile(spark, table).collect())
        rows_before = spark.table(table).count()
        # replay batch 1 (crash between append and checkpoint commit)
        append_vectors_batch(b1, table, path, planes)
        after = sorted(tuple(r) for r in index_profile(spark, table).collect())
        assert after == before, "replayed append changed the index profile"
        # the duplicate rows ARE there — the profile folds them away
        assert spark.table(table).count() == rows_before + b1.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# -- streaming constraint monitor ----------------------------------------


def test_constraint_monitor_replay_is_idempotent(spark, tmp_path):
    """A failure-replayed micro-batch overwrites its own partial: the
    merged report must be identical after re-running a batch."""
    from archive_to_parquet_spark.streaming.quality import (
        constraint_report,
        write_batch_partial,
    )

    events = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "event_type", "value", "props")
    )
    state = str(tmp_path / "state")
    for bid in range(3):
        write_batch_partial(
            events.filter(F.col("event_id") % 3 == bid), bid, state
        )
    before = {
        r["constraint_name"]: r for r in constraint_report(spark, state).collect()
    }
    # replay batch 1 (same data) — the partial is overwritten, not added
    write_batch_partial(events.filter(F.col("event_id") % 3 == 1), 1, state)
    after = {
        r["constraint_name"]: r for r in constraint_report(spark, state).collect()
    }
    assert before == after
    # and the merged metrics equal the whole-table computation
    n = events.count()
    ok = events.filter(F.col("value").between(0.0, 300.0)).count()
    assert after["bounds_value_0_300"]["metric"] == round(ok / n, 6)


# -- streaming PSI monitor --------------------------------------------------


def test_stream_psi_report_equals_batch_psi(spark):
    from archive_to_parquet_spark.queries.maintenance import eval_psi_drift
    from archive_to_parquet_spark.queries.streaming import stream_psi_drift

    batch = {r["bin"]: r for r in eval_psi_drift(spark, SF_DIR).collect()}
    stream = {r["bin"]: r for r in stream_psi_drift(spark, SF_DIR).collect()}
    assert set(batch) == set(stream)
    for b in batch:
        assert batch[b].asDict() == stream[b].asDict()


def test_psi_partial_replay_is_idempotent(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from archive_to_parquet_spark.streaming.quality import (
        psi_report,
        write_psi_partial,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", "value")
    )
    state = str(tmp_path / "state")
    write_psi_partial(events.filter(F.col("event_id") % 2 == 0), 0, state)
    write_psi_partial(events.filter(F.col("event_id") % 2 == 1), 1, state)
    once = {r["bin"]: r.asDict() for r in psi_report(spark, state).collect()}
    # a failure-replayed micro-batch OVERWRITES its own partial
    write_psi_partial(events.filter(F.col("event_id") % 2 == 1), 1, state)
    twice = {r["bin"]: r.asDict() for r in psi_report(spark, state).collect()}
    assert once == twice
    assert len(glob.glob(f"{state}/batch=*")) == 2


def test_suffix_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch (same
    batch_id) must neither grow the prefix index nor erase the
    batch's own delta by anti-joining against its previously-appended
    prefixes (the same-batch exclusion in the probe)."""
    from archive_to_parquet_spark.streaming.suffix_index import (
        probe_and_append_prefixes,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(40)
    )
    index_dir = str(tmp_path / "index")
    delta_dir = str(tmp_path / "delta")

    probe_and_append_prefixes(spark, docs, index_dir, delta_dir, batch_id=0)
    idx_rows = spark.read.parquet(index_dir).count()
    d1 = sorted(
        map(
            tuple,
            spark.read.parquet(delta_dir)
            .select("pfx", "first_doc", "n_suffixes")
            .collect(),
        )
    )
    assert idx_rows > 0 and len(d1) == idx_rows  # first batch: all new

    probe_and_append_prefixes(spark, docs, index_dir, delta_dir, batch_id=0)
    assert spark.read.parquet(index_dir).count() == idx_rows
    d2 = sorted(
        map(
            tuple,
            spark.read.parquet(delta_dir)
            .select("pfx", "first_doc", "n_suffixes")
            .collect(),
        )
    )
    assert d2 == d1


def test_suffix_stream_cross_batch_delta_only_new_prefixes(spark, tmp_path):
    from pyspark.sql import functions as F2

    from archive_to_parquet_spark.streaming.suffix_index import (
        probe_and_append_prefixes,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    b0 = docs.filter(F2.col("doc_id") % 2 == 0)
    b1 = docs.filter(F2.col("doc_id") % 2 == 1)
    index_dir = str(tmp_path / "index")
    delta_dir = str(tmp_path / "delta")
    probe_and_append_prefixes(spark, b0, index_dir, delta_dir, batch_id=0)
    probe_and_append_prefixes(spark, b1, index_dir, delta_dir, batch_id=1)
    batch0_pfx = {
        r["pfx"]
        for r in spark.read.parquet(index_dir)
        .filter(F2.col("batch_id") == 0)
        .collect()
    }
    delta1 = spark.read.parquet(delta_dir).filter(F2.col("batch_id") == 1)
    assert delta1.count() > 0
    # batch 1's delta must not contain any prefix batch 0 introduced
    assert not {r["pfx"] for r in delta1.collect()} & batch0_pfx


def test_suffix_stream_empty_corpus_yields_empty_frame(spark, tmp_path):
    """A corpus where no batch produces a ≥25-char word-start suffix
    writes no delta files at all; the entry must return the oracle's
    empty relation, not crash on a missing parquet path."""
    from archive_to_parquet_spark.queries.streaming import stream_suffix_incremental

    sf_dir = str(tmp_path / "sf_empty")
    spark.createDataFrame(
        [(1, "a b", "en", 3, "s")],  # too short for any 25-char suffix
        "doc_id long, text string, lang string, n_chars long,"
        " source string",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    out = stream_suffix_incremental(spark, sf_dir)
    assert out.count() == 0
    assert out.columns == ["pfx", "first_doc", "n_suffixes", "first_batch"]


def test_stream_stateful_keeps_users_absent_from_later_batches(spark, tmp_path):
    """Events arrive in 4 event_id % 4 slices and update mode emits
    only the users a micro-batch touched: user 1, whose events are all
    in slice 0, must still come back with its exact lifetime stats."""
    from archive_to_parquet_spark.queries.streaming import (
        stream_stateful_user_stats,
    )

    sf_dir = str(tmp_path / "sf_tiny")
    events = [  # (event_id, user_id, value)
        (0, 1, 1.25), (4, 1, 2.5), (8, 1, 0.75),
        (1, 2, 3.0), (2, 2, 0.5), (3, 2, 10.0), (5, 2, 4.25),
        (6, 3, 7.5), (7, 3, 0.25),
        (9, 25, 99.0),  # user_id >= 20 is outside the entry's subset
    ]
    spark.createDataFrame(
        [(e, 1_700_000_000_000_000_000 + e, u, "click", v, None)
         for e, u, v in events],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    got = {
        r.user_id: (r.n_events, r.total_value, r.min_value, r.max_value)
        for r in stream_stateful_user_stats(spark, sf_dir).collect()
    }
    assert got == {
        1: (3, 4.5, 0.75, 2.5),
        2: (4, 17.75, 0.5, 10.0),
        3: (2, 7.75, 0.25, 7.5),
    }


def test_stream_dedup_keys_rebuild_keeps_one_memory_table(spark, tmp_path):
    """A memory-sink entry drops its earlier memory tables when it
    drains again: two builds leave one ``stream_dedup_keys_*`` table in
    the session, not one per build."""
    from archive_to_parquet_spark.queries.streaming import stream_dedup_keys

    sf_dir = str(tmp_path / "sf_tiny")
    spark.createDataFrame(
        [(e, 1_700_000_000_000_000_000 + e, e % 3, "click", 1.0, None)
         for e in range(12)],
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    for _ in range(2):
        assert stream_dedup_keys(spark, sf_dir).count() == 3
    tables = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("stream_dedup_keys_")
    ]
    assert len(tables) == 1
