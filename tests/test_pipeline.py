"""End-to-end conversion through Spark: archives → entries DataFrame →
tuned parquet; assertions via pyarrow (FIXTURES.md §3 tier)."""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

from archive_to_parquet_spark.options import ConvertOptions, IncludeType
from archive_to_parquet_spark.plans.convert import convert, entries_pipeline
from archive_to_parquet_spark.schema import REFERENCE_COLUMNS
from tests.conftest import gzip_data, tar_archive, zip_archive


@pytest.fixture()
def fixture_archives(tmp_path):
    nested = tar_archive(
        {
            # \xff\xfe is INVALID utf-8 (note \x00\x01… would be valid —
            # control chars are well-formed UTF-8, as in the reference)
            "inner.zip": zip_archive({"z1.txt": b"zip text one", "z2.bin": b"\xff\xfe\x00binary"}),
            "plain.txt": b"tar member text",
            "dup.txt": b"zip text one",  # duplicate content across archives
        }
    )
    p1 = tmp_path / "nested.tar"
    p1.write_bytes(nested)
    p2 = tmp_path / "wrapped.tar.gz"
    p2.write_bytes(gzip_data(tar_archive({"w.txt": b"wrapped member", "big.bin": b"B" * 5000})))
    return [str(p1), str(p2)]


def test_end_to_end_convert(spark, fixture_archives, tmp_path):
    out = str(tmp_path / "out.parquet")
    counters = convert(spark, fixture_archives, out, ConvertOptions())
    table = pq.read_table(out)
    assert counters.output_rows == table.num_rows == 6
    cols = table.column_names
    assert cols == ["source", "path", "size", "hash", "content", "format"]
    rows = {
        (r["source"].split("/")[-1], r["path"]): r for r in table.to_pylist()
    }
    assert rows[("nested.tar", "inner.zip/z1.txt")]["content"] == b"zip text one"
    assert rows[("wrapped.tar.gz", "w.txt")]["content"] == b"wrapped member"
    for r in table.to_pylist():
        assert r["hash"] == hashlib.sha256(r["content"]).digest()
        assert r["size"] == len(r["content"])
        assert len(r["hash"]) == 32


def test_unique_dedups_across_inputs(spark, fixture_archives, tmp_path):
    out = str(tmp_path / "uniq.parquet")
    counters = convert(
        spark, fixture_archives, out, ConvertOptions(unique=True)
    )
    table = pq.read_table(out)
    hashes = [bytes(h) for h in table.column("hash").to_pylist()]
    assert len(hashes) == len(set(hashes))
    # dup.txt == z1.txt content → one of them dropped
    assert counters.output_rows == 5


def test_include_text_filter(spark, fixture_archives):
    df = entries_pipeline(
        spark, fixture_archives, ConvertOptions(include=IncludeType.TEXT)
    )
    rows = df.collect()
    paths = {r.path for r in rows}
    assert "inner.zip/z2.bin" not in paths
    assert "inner.zip/z1.txt" in paths
    df_bin = entries_pipeline(
        spark, fixture_archives, ConvertOptions(include=IncludeType.BINARY)
    )
    assert {r.path for r in df_bin.collect()} == {"inner.zip/z2.bin"}


def test_size_filter_exclusive_max(spark, fixture_archives):
    # boundary: max_size is EXCLUSIVE (reference src/lib.rs:55-62)
    df = entries_pipeline(
        spark, fixture_archives, ConvertOptions(min_size=12, max_size=5000)
    )
    sizes = sorted(r.size for r in df.collect())
    assert all(12 <= s < 5000 for s in sizes)
    assert 5000 not in sizes  # big.bin is exactly 5000 → dropped
    df2 = entries_pipeline(
        spark, fixture_archives, ConvertOptions(min_size=12, max_size=5001)
    )
    assert 5000 in [r.size for r in df2.collect()]


def test_zero_rows_is_error(spark, fixture_archives, tmp_path):
    out = str(tmp_path / "none.parquet")
    with pytest.raises(RuntimeError, match="no rows"):
        convert(spark, fixture_archives, out, ConvertOptions(min_size=10**9))
    # reference parity: a failed conversion leaves NO output behind
    import os

    assert not os.path.exists(out)


def test_reference_column_mode(spark, fixture_archives):
    df = entries_pipeline(
        spark, fixture_archives, ConvertOptions(columns=REFERENCE_COLUMNS)
    )
    assert df.columns == ["source", "path", "size", "hash", "content"]


def test_convert_incremental_skips_existing(spark, fixture_archives, tmp_path):
    from archive_to_parquet_spark.plans.convert import convert_incremental
    from tests.conftest import tar_archive

    out = str(tmp_path / "inc.parquet")
    # first batch: everything is new
    c1 = convert_incremental(spark, fixture_archives[:1], out, ConvertOptions())
    assert c1.output_rows == 4
    # same batch again: nothing new
    c2 = convert_incremental(spark, fixture_archives[:1], out, ConvertOptions())
    assert c2.output_rows == 0
    assert pq.read_table(out).num_rows == 4
    # a batch with one overlapping and one new file: only the new row lands
    extra = tmp_path / "extra.tar"
    extra.write_bytes(
        tar_archive({"dup_again.txt": b"tar member text", "fresh.txt": b"brand new"})
    )
    c3 = convert_incremental(spark, [str(extra)], out, ConvertOptions())
    assert c3.output_rows == 1
    table = pq.read_table(out)
    assert table.num_rows == 5
    assert "fresh.txt" in {r["path"] for r in table.to_pylist()}


def test_convert_incremental_pruned_columns(spark, fixture_archives, tmp_path):
    """Incremental conversion over a pruned projection: without ``size``
    it counts 0 bytes instead of failing to resolve ``size``; without
    its ``hash`` key it raises a ValueError naming the column before
    any job starts."""
    from archive_to_parquet_spark.plans.convert import convert_incremental

    out = str(tmp_path / "inc_pruned.parquet")
    pruned = ConvertOptions(columns=("source", "path", "hash"))
    c1 = convert_incremental(spark, fixture_archives[:1], out, pruned)
    assert (c1.output_rows, c1.output_bytes) == (4, 0)
    c2 = convert_incremental(spark, fixture_archives[:1], out, pruned)
    assert c2.output_rows == 0
    assert pq.read_table(out).column_names == ["source", "path", "hash"]

    sc = spark.sparkContext
    sc.setJobGroup("incremental_without_key", "must not start a job")
    try:
        with pytest.raises(ValueError, match="'hash'"):
            convert_incremental(
                spark,
                fixture_archives,
                str(tmp_path / "no_key.parquet"),
                ConvertOptions(columns=("source", "path", "size")),
            )
        assert sc.statusTracker().getJobIdsForGroup("incremental_without_key") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not (tmp_path / "no_key.parquet").exists()


def test_observability_counters(spark, fixture_archives):
    from archive_to_parquet_spark.observability import stage_snapshot

    assert entries_pipeline(spark, fixture_archives, ConvertOptions()).count() == 6
    snap = stage_snapshot(spark)
    assert snap.failed_tasks == 0


def test_deterministic_dedup_winner(spark, fixture_archives):
    df = entries_pipeline(
        spark,
        fixture_archives,
        ConvertOptions(unique=True, deterministic_dedup=True),
    )
    rows = {r.path: r for r in df.collect()}
    # dup content: inner.zip/z1.txt vs dup.txt — min (source,path) wins;
    # both share source nested.tar, "dup.txt" < "inner.zip/z1.txt"
    assert "dup.txt" in rows
    assert "inner.zip/z1.txt" not in rows


def test_read_archives_even_spread_no_global_window(spark, tmp_path):
    """Input fan-out: one size-balanced bin of archives per thread,
    with no global Window/sort at the head of the ingest DAG (the dense
    row-index approach warned 'WindowExec: No Partition Defined' and
    would single-partition a huge manifest)."""
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.sources.archive_source import read_archives

    paths = []
    for i in range(8):
        p = tmp_path / f"a{i}.tar"
        p.write_bytes(tar_archive({f"f{i}.txt": f"content {i}".encode()}))
        paths.append(str(p))
    entries = read_archives(spark, paths, ConvertOptions(threads=2))
    plan = entries._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan
    # threads=2 → 2 tasks; 8 equal-size archives → 4 archives per task
    per_task = (
        entries.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct("source").alias("n_sources"))
        .collect()
    )
    assert len(per_task) == 2
    assert all(r.n_sources == 4 for r in per_task)
