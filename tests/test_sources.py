"""URL source, library Walker API, and sink tuning verification."""

from __future__ import annotations

import functools
import http.server
import io
import threading

import pyarrow.parquet as pq
import pytest

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.sources.walker import EntryRow, Walker, walk_stream
from tests.conftest import gzip_data, tar_archive, zip_archive


@pytest.fixture(scope="module")
def http_archive_server(tmp_path_factory):
    """Serve fixture archives over local HTTP (S2 — reference
    src/main.rs:200-220)."""
    root = tmp_path_factory.mktemp("www")
    (root / "remote.tar.gz").write_bytes(
        gzip_data(tar_archive({"r1.txt": b"from the network", "r2.txt": b"more bytes"}))
    )
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(root)
    )
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_url_source_end_to_end(spark, http_archive_server, tmp_path):
    from archive_to_parquet_spark.plans.convert import convert

    url = f"{http_archive_server}/remote.tar.gz"
    out = str(tmp_path / "url_out.parquet")
    counters = convert(spark, [url], out, ConvertOptions(), urls=True)
    assert counters.output_rows == 2
    rows = {r["path"]: r for r in pq.read_table(out).to_pylist()}
    assert rows["r1.txt"]["content"] == b"from the network"
    # source column stores the URL verbatim (reference src/batch.rs:108)
    assert rows["r1.txt"]["source"] == url


def test_url_404_fails(http_archive_server):
    import urllib.error

    from archive_to_parquet_spark.sources.url_source import open_url

    with pytest.raises(urllib.error.HTTPError):
        open_url(f"{http_archive_server}/missing.tar")


def test_custom_walker_subclass():
    """The library extension surface (§2.10): overridable visitor hooks
    (reference AnyWalker trait, src/anyreader_walker/stack.rs:7-24)."""

    class CountingWalker(Walker):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.archives_entered: list[str] = []
            self.archives_left = 0

        def begin_visit_archive(self, name: str, size: int) -> bool:
            self.archives_entered.append(name)
            return super().begin_visit_archive(name, size)

        def end_visit_archive(self) -> None:
            self.archives_left += 1

        def visit_file_entry(self, row: EntryRow):
            if row.path.endswith(".skipme"):
                return None  # drop
            return row

    inner = zip_archive({"keep.txt": b"kept", "drop.skipme": b"dropped"})
    outer = tar_archive({"inner.zip": inner})
    w = CountingWalker("outer.tar")
    rows = list(w.walk("outer.tar", io.BytesIO(outer), len(outer)))
    assert [r.path for r in rows] == ["inner.zip/keep.txt"]
    assert w.archives_entered == ["outer.tar", "inner.zip"]
    assert w.archives_left == 2


def test_zstd_input_without_module_or_binary_is_clear_error(monkeypatch):
    """With neither the zstandard module nor a zstd binary the error
    must be explicit, not a mis-sniffed empty row."""
    import archive_to_parquet_spark.sources.walker as walker_mod

    monkeypatch.setattr(walker_mod, "_HAS_ZSTD", False)
    monkeypatch.setattr(walker_mod, "_ZSTD_BIN", None)
    blob = b"\x28\xb5\x2f\xfd" + b"\x00" * 64  # zstd frame magic
    with pytest.raises(RuntimeError, match="zstd"):
        list(walk_stream("x.zst", io.BytesIO(blob), len(blob)))


def _zstd_compress(data: bytes) -> bytes:
    """Compress via module or binary — whichever this environment has."""
    import archive_to_parquet_spark.sources.walker as walker_mod

    if walker_mod._HAS_ZSTD:
        import zstandard

        return zstandard.ZstdCompressor().compress(data)
    if walker_mod._ZSTD_BIN:
        import subprocess

        return subprocess.run(
            [walker_mod._ZSTD_BIN, "-c"], input=data, capture_output=True, check=True
        ).stdout
    pytest.skip("no zstd codec in this environment")


def test_tar_zst_walks_end_to_end():
    """A nested .tar.zst decodes and walks — module path or the
    subprocess-binary fallback (reference compression.rs:47-55 parity)."""
    inner = tar_archive({"a.txt": b"zstd alpha", "d/b.txt": b"zstd beta"})
    blob = _zstd_compress(inner)
    rows = list(walk_stream("x.tar.zst", io.BytesIO(blob), len(blob)))
    assert [(r.path, r.content) for r in rows] == [
        ("a.txt", b"zstd alpha"),
        ("d/b.txt", b"zstd beta"),
    ]


def test_zstd_subprocess_fallback_decodes(monkeypatch):
    """Force the subprocess path even when the module is present."""
    import archive_to_parquet_spark.sources.walker as walker_mod

    if not walker_mod._ZSTD_BIN:
        pytest.skip("no zstd binary in this environment")
    blob = _zstd_compress(tar_archive({"f.txt": b"via subprocess"}))
    monkeypatch.setattr(walker_mod, "_HAS_ZSTD", False)
    rows = list(walk_stream("x.tar.zst", io.BytesIO(blob), len(blob)))
    assert [(r.path, r.content) for r in rows] == [("f.txt", b"via subprocess")]


def test_zstd_concatenated_and_skippable_frames(monkeypatch):
    """Concatenated zstd frames + a leading skippable frame decode as one
    logical stream (multi-frame contract, like the xz multi-stream path)."""
    import archive_to_parquet_spark.sources.walker as walker_mod

    if not walker_mod._ZSTD_BIN:
        pytest.skip("no zstd binary in this environment")
    monkeypatch.setattr(walker_mod, "_HAS_ZSTD", False)
    import struct

    skippable = b"\x50\x2a\x4d\x18" + struct.pack("<I", 4) + b"meta"
    payload = tar_archive({"f.txt": b"frame two"})
    half = len(payload) // 2
    blob = (
        skippable
        + _zstd_compress(payload[:half])
        + _zstd_compress(payload[half:])
    )
    rows = list(walk_stream("x.tar.zst", io.BytesIO(blob), len(blob)))
    assert [(r.path, r.content) for r in rows] == [("f.txt", b"frame two")]


def test_hash_prefix_partitioned_sink(spark, tmp_path):
    from archive_to_parquet_spark.plans.convert import entries_pipeline
    from archive_to_parquet_spark.plans.sink import write_parquet

    archive = tmp_path / "p.tar"
    archive.write_bytes(
        tar_archive({f"f{i}.txt": f"unique content {i}".encode() for i in range(40)})
    )
    df = entries_pipeline(spark, [str(archive)], ConvertOptions())
    out = str(tmp_path / "parted")
    write_parquet(df, out, ConvertOptions(), partition_by_hash_prefix=True)
    import glob as g

    dirs = sorted(g.glob(f"{out}/hash_prefix=*"))
    assert len(dirs) > 5  # 40 uniform hashes spread over many prefixes
    back = spark.read.parquet(out)
    assert back.count() == 40
    # partition pruning: a filter on hash_prefix scans one directory
    one = dirs[0].split("=")[-1]
    assert back.filter(back.hash_prefix == one).count() >= 1


def test_sink_writes_tuned_parquet(spark, tmp_path):
    """K2 parity: dictionary on source/path only, stats present, snappy
    (reference src/sink.rs:23-55)."""
    from archive_to_parquet_spark.plans.convert import convert

    archive = tmp_path / "a.tar"
    archive.write_bytes(
        tar_archive({f"f{i}.txt": f"content {i}".encode() * 50 for i in range(50)})
    )
    out = str(tmp_path / "tuned.parquet")
    convert(spark, [str(archive)], out, ConvertOptions(single_file=True))
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == 1  # single_file=True → coalesce(1)
    meta = pq.ParquetFile(files[0]).metadata
    rg = meta.row_group(0)
    by_name = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
    assert by_name["source"].compression == "SNAPPY"
    # dictionary on for source/path, off for content
    assert "PLAIN_DICTIONARY" in str(by_name["source"].encodings) or "RLE_DICTIONARY" in str(
        by_name["source"].encodings
    )
    assert "DICTIONARY" not in str(by_name["content"].encodings)
    # statistics exist for the indexed columns
    assert by_name["size"].statistics is not None
    assert by_name["hash"].statistics is not None


def test_sink_row_group_geometry(spark, tmp_path):
    """K2 row-group parity: parquet.block.size bounds bytes (and thus
    rows) per group — a forced-large write with a small budget must
    produce ≥2 groups, each well under the total row count (reference
    src/sink.rs:38 caps groups at 1,048,576 rows; Spark's knob is
    bytes)."""
    from archive_to_parquet_spark.plans.convert import convert

    # ~200 members × ~5 KB ≈ 1 MB of content against a 256 KB group budget
    archive = tmp_path / "big.tar"
    archive.write_bytes(
        tar_archive(
            {f"f{i:03d}.bin": (f"row {i} ".encode() * 700) for i in range(200)}
        )
    )
    out = str(tmp_path / "grouped.parquet")
    convert(
        spark, [str(archive)], out,
        ConvertOptions(single_file=True, row_group_bytes=256 * 1024),
    )
    import glob

    meta = pq.ParquetFile(glob.glob(f"{out}/*.parquet")[0]).metadata
    assert meta.num_rows == 200
    assert meta.num_row_groups >= 2
    assert all(
        meta.row_group(i).num_rows < 200 for i in range(meta.num_row_groups)
    )


def test_parquet_members_read_back_as_rows(spark, tmp_path):
    """A tar of parquet shards becomes a queryable DataFrame without
    extraction: members sniff as format='parquet' and decode to rows
    with provenance, declared-schema projection, and loud failure on
    schema drift."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as _pq
    import pytest as _pytest

    from archive_to_parquet_spark.plans.convert import entries_pipeline
    from archive_to_parquet_spark.sources.members import parquet_members_to_rows

    def shard(ids, names):
        buf = _io.BytesIO()
        _pq.write_table(
            pa.table({"id": ids, "name": names, "extra": [0.5] * len(ids)}), buf
        )
        return buf.getvalue()

    archive = tmp_path / "dataset.tar"
    archive.write_bytes(
        tar_archive(
            {
                "part-0.parquet": shard([1, 2], ["a", "b"]),
                "part-1.parquet": shard([3], ["c"]),
                "README.txt": b"not a table",
            }
        )
    )
    entries = entries_pipeline(spark, [str(archive)], ConvertOptions())
    assert {r.format for r in entries.select("format").collect()} == {
        "parquet",
        "unknown",
    }
    rows = parquet_members_to_rows(entries, "id long, name string").collect()
    assert sorted((r._member, r.id, r.name) for r in rows) == [
        ("part-0.parquet", 1, "a"),
        ("part-0.parquet", 2, "b"),
        ("part-1.parquet", 3, "c"),
    ]
    # declared column absent from the member -> loud error, not nulls
    with _pytest.raises(Exception, match="lacks declared columns|nope"):
        parquet_members_to_rows(entries, "id long, nope string").collect()


def test_zstd_subprocess_corrupt_input_raises(monkeypatch):
    """Corrupt zstd through the subprocess fallback must RAISE, not
    surface as silent EOF (r3 advice): a truncated/garbled decode was
    previously indistinguishable from clean end-of-stream, so a bad
    walk could be recorded as successful."""
    import archive_to_parquet_spark.sources.walker as walker_mod

    if not walker_mod._ZSTD_BIN:
        pytest.skip("no zstd binary in this environment")
    monkeypatch.setattr(walker_mod, "_HAS_ZSTD", False)

    # valid magic, garbage frame body → zstd exits nonzero at stream start
    corrupt = b"\x28\xb5\x2f\xfd" + b"\x00" * 64
    reader = walker_mod._SubprocessZstdReader(io.BytesIO(corrupt))
    try:
        with pytest.raises(walker_mod.ZstdDecodeError):
            while reader.read(4096):
                pass
    finally:
        reader.close()

    # clean stream still decodes to EOF without raising
    blob = _zstd_compress(b"clean payload " * 32)
    reader = walker_mod._SubprocessZstdReader(io.BytesIO(blob))
    try:
        out = b""
        while True:
            chunk = reader.read(4096)
            if not chunk:
                break
            out += chunk
        assert out == b"clean payload " * 32
        assert reader.read(4096) == b""  # idempotent EOF after rc check
    finally:
        reader.close()


def test_pack_inputs_size_weighted_lpt(tmp_path):
    """Skewed archive sizes pack by LPT: the one giant input gets a bin
    to itself and the small ones share, instead of a contiguous
    count-even split that would put the giant plus neighbors together."""
    from archive_to_parquet_spark.sources.archive_source import _pack_inputs

    sizes = {"a.tar": 1000, "b.tar": 10, "c.tar": 10, "d.tar": 980}
    for name, sz in sizes.items():
        (tmp_path / name).write_bytes(b"x" * sz)
    paths = sorted(str(tmp_path / n) for n in sizes)
    bins = _pack_inputs(paths, 2)
    loads = sorted(
        sum(sizes[p.rsplit("/", 1)[1]] for p in b) for b in bins
    )
    # LPT: a→bin0, d→bin1, then both small files join d's bin → perfect
    # 1000/1000 balance; contiguous count-even (a,b | c,d) gives 1010/990
    assert loads == [1000, 1000]
    # deterministic across calls
    assert bins == _pack_inputs(paths, 2)
    # URL mode / unstatable paths: contiguous count-even fallback
    fallback = _pack_inputs(["u1", "u2", "u3"], 2, urls=True)
    assert fallback == [["u1", "u2"], ["u3"]]
    missing = _pack_inputs(["/nonexistent/x", "/nonexistent/y"], 2)
    assert missing == [["/nonexistent/x"], ["/nonexistent/y"]]


def test_read_archives_lpt_rows_identical(spark, tmp_path):
    """The LPT packing changes task assignment only — the emitted row
    set is identical to what the archives contain."""
    import tarfile as _tf

    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import entries_pipeline

    names = []
    for i, n_members in enumerate((1, 7, 2)):
        p = tmp_path / f"in{i}.tar"
        with _tf.open(p, "w") as tf:
            for m in range(n_members):
                data = f"payload {i} {m}".encode() * (i * 50 + 1)
                info = _tf.TarInfo(f"f{m}.txt")
                info.size = len(data)
                import io as _io

                tf.addfile(info, _io.BytesIO(data))
        names.append(str(p))
    df = entries_pipeline(spark, names, ConvertOptions())
    rows = {(r.source.rsplit("/", 1)[1], r.path) for r in df.collect()}
    assert rows == {
        ("in0.tar", "f0.txt"),
        *{("in1.tar", f"f{m}.txt") for m in range(7)},
        ("in2.tar", "f0.txt"),
        ("in2.tar", "f1.txt"),
    }


def test_walk_inputs_dual_cap(tmp_path):
    """walk_inputs, the one walk → Arrow batch path of every ingest mode:
    at most 1024 rows per batch, at most ``batch_size`` content bytes
    unless the batch is one larger row, batches spanning inputs, and the
    pruned Arrow schema under ``columns``."""
    import pyarrow as pa

    from archive_to_parquet_spark.sources.archive_source import walk_inputs

    many = tmp_path / "many.tar"
    many.write_bytes(tar_archive({f"m{i}.txt": b"x" for i in range(1100)}))
    sized = tmp_path / "sized.tar"
    sized.write_bytes(
        tar_archive(
            {f"s{i}.bin": bytes([i]) * n for i, n in enumerate((900, 900, 900, 2500, 10))}
        )
    )
    inputs = [(str(many), False), (str(sized), False)]
    batches = list(walk_inputs(inputs, ConvertOptions(batch_size=2000)))
    assert sum(b.num_rows for b in batches) == 1105
    for b in batches:
        content_bytes = sum(len(c) for c in b.column("content").to_pylist())
        assert b.num_rows <= 1024
        assert content_bytes <= 2000 or b.num_rows == 1, (b.num_rows, content_bytes)
    assert max(b.num_rows for b in batches) == 1024
    assert any(len(set(b.column("source").to_pylist())) == 2 for b in batches)

    pruned = list(
        walk_inputs(inputs, ConvertOptions(columns=("hash", "source", "path")))
    )
    expected = pa.schema(
        [("source", pa.string()), ("path", pa.string()), ("hash", pa.binary())]
    )
    assert all(b.schema == expected for b in pruned)
    assert [b.num_rows for b in pruned] == [1024, 81]
