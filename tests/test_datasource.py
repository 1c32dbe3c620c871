"""Spark 4 Python DataSource ('archive' format) tests."""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import FAKE_ELF, gzip_data, tar_archive, zip_archive


@pytest.fixture()
def registered(spark):
    from archive_to_parquet_spark.sources.datasource import register

    register(spark)
    return spark


@pytest.fixture()
def archives(tmp_path):
    a = tmp_path / "a.tar"
    a.write_bytes(
        tar_archive({"x.txt": b"hello", "inner.zip": zip_archive({"y.txt": b"nested"})})
    )
    b = tmp_path / "b.tar.gz"
    b.write_bytes(gzip_data(tar_archive({"z.txt": b"wrapped"})))
    return [str(a), str(b)]


def test_format_archive_load(registered, archives):
    df = (
        registered.read.format("archive")
        .option("paths", ",".join(archives))
        .load()
    )
    rows = df.collect()
    assert {(r.path, bytes(r.content)) for r in rows} == {
        ("x.txt", b"hello"),
        ("inner.zip/y.txt", b"nested"),
        ("z.txt", b"wrapped"),
    }
    for r in rows:
        assert bytes(r.hash) == hashlib.sha256(bytes(r.content)).digest()
    # one planned partition per archive
    assert df.rdd.getNumPartitions() == 2


def test_format_archive_glob_and_pushdown(registered, archives, tmp_path):
    from pyspark.sql import functions as F

    df = (
        registered.read.format("archive")
        .option("glob", f"{tmp_path}/*.tar*")
        .load()
        .filter(F.col("size") >= 6)
        .select("path", "size")
    )
    assert {(r.path, r.size) for r in df.collect()} == {
        ("inner.zip/y.txt", 6),
        ("z.txt", 7),
    }


def test_format_archive_stream(registered, tmp_path):
    watch = tmp_path / "stream_in"
    watch.mkdir()
    (watch / "one.tar").write_bytes(tar_archive({"a.txt": b"first batch"}))
    stream = (
        registered.readStream.format("archive-stream")
        .option("glob", f"{watch}/*.tar")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("arch_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        first = registered.sql("SELECT path, content FROM arch_stream").collect()
        assert {(r.path, bytes(r.content)) for r in first} == {("a.txt", b"first batch")}
        # a new archive arrives mid-stream
        (watch / "two.tar").write_bytes(tar_archive({"b.txt": b"second batch"}))
        q.processAllAvailable()
        both = registered.sql("SELECT path, content FROM arch_stream").collect()
        assert {(r.path, bytes(r.content)) for r in both} == {
            ("a.txt", b"first batch"),
            ("b.txt", b"second batch"),
        }
        # no re-emission on a further empty batch
        q.processAllAvailable()
        assert registered.sql("SELECT COUNT(*) n FROM arch_stream").collect()[0].n == 2
    finally:
        q.stop()


def _stream_rows(spark, name: str, **options) -> tuple[list[str], list]:
    """Run ``format("archive-stream")`` with ``options`` to exhaustion
    into a memory sink; returns the declared columns and the rows."""
    stream = spark.readStream.format("archive-stream").options(**options).load()
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        return stream.columns, spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_format_archive_stream_extract_strings(registered, tmp_path):
    """The stream honours extract_strings exactly as the batch format
    does: the executable's row carries the strings text, not the ELF."""
    watch = tmp_path / "elf_in"
    watch.mkdir()
    (watch / "e.tar").write_bytes(tar_archive({"prog": FAKE_ELF}))
    batch = (
        registered.read.format("archive")
        .option("glob", f"{watch}/*.tar")
        .option("extract_strings", "true")
        .load()
        .collect()
    )
    _, streamed = _stream_rows(
        registered, "elf_stream", glob=f"{watch}/*.tar", extract_strings="true"
    )
    assert len(batch) == 1 and batch[0].size < len(FAKE_ELF)
    assert {(r.path, r.size, bytes(r.hash), bytes(r.content)) for r in streamed} == {
        (r.path, r.size, bytes(r.hash), bytes(r.content)) for r in batch
    }


def test_format_archive_stream_columns_prunes_schema(registered, tmp_path):
    """``columns`` prunes the stream's declared schema and its rows."""
    watch = tmp_path / "pruned_in"
    watch.mkdir()
    (watch / "one.tar").write_bytes(tar_archive({"a.txt": b"pruned stream"}))
    columns, rows = _stream_rows(
        registered, "pruned_stream", glob=f"{watch}/*.tar", columns="path,source,hash"
    )
    assert columns == ["source", "path", "hash"]
    assert [(r.source, r.path, bytes(r.hash)) for r in rows] == [
        (
            str(watch / "one.tar"),
            "a.txt",
            hashlib.sha256(b"pruned stream").digest(),
        )
    ]


def test_format_archive_requires_paths(registered):
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(Exception):
        registered.read.format("archive").load().collect()


def test_format_archive_stream_warc(registered, tmp_path):
    """A .warc.gz dropped into the watch dir streams through the same
    walker: response bodies arrive as rows with URI paths."""
    import gzip as _gzip

    from tests.test_warc import http_response, warc_record

    watch = tmp_path / "crawl"
    watch.mkdir()
    body = b"<html><body><p>streamed page</p></body></html>"
    (watch / "seg0.warc.gz").write_bytes(
        _gzip.compress(
            warc_record("response", http_response(body), uri="http://s.example/a")
        )
    )
    stream = (
        registered.readStream.format("archive-stream")
        .option("glob", f"{watch}/*.warc.gz")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("warc_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = registered.sql("SELECT path, content FROM warc_stream").collect()
        assert {(r.path, bytes(r.content)) for r in rows} == {
            ("http://s.example/a", body)
        }
        # a second segment arrives mid-stream
        (watch / "seg1.warc.gz").write_bytes(
            _gzip.compress(
                warc_record("resource", b"plain doc", uri="http://s.example/b")
            )
        )
        q.processAllAvailable()
        n = registered.sql("SELECT COUNT(*) n FROM warc_stream").collect()[0].n
        assert n == 2
    finally:
        q.stop()


def test_archive_stream_warc_gz_growth_exactly_once(registered, tmp_path):
    """Continuous crawl ingestion: gzip members APPENDED to an existing
    .warc.gz segment stream as new rows, exactly once (r2 verdict item
    9 — the byte-offset growth semantics, not just new files)."""
    import gzip as _gzip

    from tests.test_warc import warc_record

    watch = tmp_path / "crawl_grow"
    watch.mkdir()
    seg = watch / "seg.warc.gz"
    seg.write_bytes(
        _gzip.compress(
            warc_record("resource", b"record one", uri="http://g.example/1")
        )
    )
    stream = (
        registered.readStream.format("archive-stream")
        .option("glob", f"{watch}/*.warc.gz")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("warc_grow")
        .start()
    )
    try:
        q.processAllAvailable()
        first = registered.sql("SELECT path, content FROM warc_grow").collect()
        assert {(r.path, bytes(r.content)) for r in first} == {
            ("http://g.example/1", b"record one")
        }
        # the crawler appends two more per-record gzip members in place
        with open(seg, "ab") as fh:
            fh.write(
                _gzip.compress(
                    warc_record("resource", b"record two", uri="http://g.example/2")
                )
            )
            fh.write(
                _gzip.compress(
                    warc_record("resource", b"record three", uri="http://g.example/3")
                )
            )
        q.processAllAvailable()
        rows = registered.sql("SELECT path, content FROM warc_grow").collect()
        assert {(r.path, bytes(r.content)) for r in rows} == {
            ("http://g.example/1", b"record one"),
            ("http://g.example/2", b"record two"),
            ("http://g.example/3", b"record three"),
        }
        # idle trigger: nothing re-emits (tail bookkeeping is stable)
        q.processAllAvailable()
        n = registered.sql("SELECT COUNT(*) n FROM warc_grow").collect()[0].n
        assert n == 3
    finally:
        q.stop()


def test_archive_stream_grown_tar_not_rewalked(registered, tmp_path):
    """Non-record formats can't be tail-walked: a tar that grows in
    place is NOT re-read (its first-seen contents were already
    emitted; re-walking would duplicate them)."""
    watch = tmp_path / "tar_grow"
    watch.mkdir()
    p = watch / "x.tar"
    p.write_bytes(tar_archive({"a.txt": b"original"}))
    stream = (
        registered.readStream.format("archive-stream")
        .option("glob", f"{watch}/*.tar")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("tar_grow")
        .start()
    )
    try:
        q.processAllAvailable()
        p.write_bytes(tar_archive({"a.txt": b"original", "b.txt": b"appended"}))
        q.processAllAvailable()
        rows = registered.sql("SELECT path FROM tar_grow").collect()
        assert [r.path for r in rows] == ["a.txt"]
    finally:
        q.stop()


def test_legacy_whole_file_offset_not_replayed(tmp_path):
    """A file recorded under the legacy list-form offset (whole-file
    marker -1) in BOTH start and end must yield NOTHING on batch
    replay — re-walking it would duplicate every row after restarting
    from a pre-upgrade checkpoint (r3 advice, datasource.py
    readBetweenOffsets)."""
    from archive_to_parquet_spark.sources.datasource import ArchiveStreamReader

    f = tmp_path / "seg.tar"
    f.write_bytes(tar_archive({"x.txt": b"payload"}))
    reader = ArchiveStreamReader({"glob": f"{tmp_path}/*.tar"})

    legacy = {"processed": [str(f)]}  # pre-upgrade checkpoint form
    rows = list(reader.readBetweenOffsets(legacy, legacy))
    assert rows == []

    # legacy start + modern grown end: the pre-upgrade marker means the
    # original extent was already emitted and its boundary is unknown —
    # replay must stay silent rather than duplicate the whole file
    modern_end = {"processed": {str(f): f.stat().st_size}}
    assert list(reader.readBetweenOffsets(legacy, modern_end)) == []

    # sanity: a modern zero-offset start DOES replay the file
    fresh = {"processed": {str(f): 0}}
    replay = list(reader.readBetweenOffsets(fresh, modern_end))
    assert [r[1] for r in replay] == ["x.txt"]


def test_format_archive_columns_option_prunes_content(registered, archives):
    """.option('columns', ...) without content: pruned schema, identical
    metadata (hash/size/format computed by the stream-hash path), and
    the walker never buffers payloads."""
    full = (
        registered.read.format("archive")
        .option("paths", ",".join(archives))
        .load()
        .collect()
    )
    pruned_df = (
        registered.read.format("archive")
        .option("paths", ",".join(archives))
        .option("columns", "source,path,size,hash,format")
        .load()
    )
    assert pruned_df.columns == ["source", "path", "size", "hash", "format"]
    pruned = pruned_df.collect()
    key = lambda r: (r.source, r.path)  # noqa: E731
    assert {
        (key(r), r.size, bytes(r.hash), r.format) for r in pruned
    } == {(key(r), r.size, bytes(r.hash), r.format) for r in full}


def test_format_archive_columns_preserves_extract_strings_hash(
    registered, tmp_path
):
    """Pruned content + extract_strings: hash/size must reflect the
    REWRITTEN executable payload (full-copy path), not the raw bytes."""
    exe = b"\x7fELF" + b"\x00" * 20 + b"this_is_a_long_ascii_run" + b"\x01" * 9
    t = tmp_path / "e.tar"
    t.write_bytes(tar_archive({"prog": exe}))
    full = (
        registered.read.format("archive")
        .option("paths", str(t))
        .option("extract_strings", "true")
        .load()
        .collect()
    )
    pruned = (
        registered.read.format("archive")
        .option("paths", str(t))
        .option("extract_strings", "true")
        .option("columns", "path,size,hash,format")
        .load()
        .collect()
    )
    assert {(r.path, r.size, bytes(r.hash)) for r in pruned} == {
        (r.path, r.size, bytes(r.hash)) for r in full
    }
