"""Recursive walker semantics (reference src/anyreader_walker/ tests +
FIXTURES.md §3) — pure Python, no Spark session needed."""

from __future__ import annotations

import hashlib
import io

import pytest

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.sources.walker import walk_stream
from tests.conftest import (
    FAKE_ELF,
    bz2_data,
    gzip_data,
    tar_archive,
    xz_data,
    zip_archive,
)


def _walk_bytes(source: str, data: bytes, options: ConvertOptions | None = None):
    return list(walk_stream(source, io.BytesIO(data), len(data), options))


def test_flat_tar_skips_dirs_and_empty():
    data = tar_archive(
        {"a.txt": b"hello", "b.txt": b"world!", "empty.txt": b""}, with_dir=True
    )
    rows = _walk_bytes("flat.tar", data)
    assert [(r.path, r.content) for r in rows] == [
        ("a.txt", b"hello"),
        ("b.txt", b"world!"),
    ]
    for r in rows:
        assert r.source == "flat.tar"
        assert r.size == len(r.content)
        assert r.hash == hashlib.sha256(r.content).digest()
        assert r.format == "unknown"


def test_flat_zip_skips_dirs_and_empty():
    data = zip_archive(
        {"a.txt": b"hello", "sub/b.txt": b"world!", "empty.txt": b""}, with_dir=True
    )
    rows = _walk_bytes("flat.zip", data)
    assert [(r.path, r.content) for r in rows] == [
        ("a.txt", b"hello"),
        ("sub/b.txt", b"world!"),
    ]


def test_nested_tar_and_zip_paths():
    # tar containing a tar and a zip, two levels (stack.rs:26-39);
    # path = nested chain without the ROOT archive (utils.rs:49-55)
    inner_tar = tar_archive({"x/y.txt": b"deep tar"})
    inner_zip = zip_archive({"z.txt": b"deep zip"})
    outer = tar_archive({"inner.tar": inner_tar, "inner.zip": inner_zip})
    rows = _walk_bytes("outer.tar", outer)
    assert [(r.path, r.content) for r in rows] == [
        ("inner.tar/x/y.txt", b"deep tar"),
        ("inner.zip/z.txt", b"deep zip"),
    ]
    assert all(r.source == "outer.tar" for r in rows)


def test_wrapped_codecs():
    # the same tar under each codec (compression.rs:36-63)
    tar = tar_archive({"f.txt": b"payload bytes"})
    for codec, blob in (
        ("gz", gzip_data(tar)),
        ("bz2", bz2_data(tar)),
        ("xz", xz_data(tar)),
    ):
        rows = _walk_bytes(f"wrapped.tar.{codec}", blob)
        assert [(r.path, r.content) for r in rows] == [("f.txt", b"payload bytes")], codec


def test_compressed_leaf_keeps_codec_format():
    blob = gzip_data(b"just text, not an archive")
    rows = _walk_bytes("file.gz", blob)
    assert len(rows) == 1
    assert rows[0].content == b"just text, not an archive"
    assert rows[0].format == "gzip"
    assert rows[0].path == "file.gz"


def test_plain_file_path_is_source_verbatim():
    rows = _walk_bytes("some/rel/path.bin", b"plain content")
    assert len(rows) == 1
    assert rows[0].path == "some/rel/path.bin"
    assert rows[0].source == "some/rel/path.bin"


def test_quine_zip_emitted_as_file():
    # a zip containing an identically-named-and-sized member that is
    # itself: the member must be emitted as a file row, not recursed
    # (visitor.rs:94-100)
    bomb_inner = zip_archive({"payload.txt": b"data here"})
    # make member whose name==parent name and size==parent size
    name = "quine.zip"
    # iterate: build zip whose member named quine.zip has exact same size
    # as the enclosing zip. Construct by fixed-point iteration.
    member = bomb_inner
    for _ in range(10):
        outer = zip_archive({name: member, "other.txt": b"hello world"})
        if len(outer) == len(member):
            break
        member = b"\0" * len(outer)  # placeholder of matching size
        outer = zip_archive({name: member, "other.txt": b"hello world"})
    # walk with source name == member name and declared size == member size
    rows = _walk_bytes(name, zip_archive({name: member, "other.txt": b"x" * 11}))
    # can't force byte-exact equality easily; instead test the guard directly
    from archive_to_parquet_spark.sources.walker import Walker, _StackFrame

    w = Walker("quine.zip")
    w.stack.append(_StackFrame("quine.zip", 123))
    assert not w.begin_visit_archive("quine.zip", 123)
    assert w.begin_visit_archive("quine.zip", 124)
    assert w.begin_visit_archive("other.zip", 123)
    # and all rows from the real walk are leaves with valid hashes
    for r in rows:
        assert r.hash == hashlib.sha256(r.content).digest()


def test_max_depth_guard():
    deep = tar_archive({"leaf.txt": b"bottom level"})
    for i in range(5):
        deep = tar_archive({f"level{i}.tar": deep})
    rows = _walk_bytes("deep.tar", deep, ConvertOptions(max_depth=3))
    # the level that exceeds depth is emitted as a raw tar blob row
    assert len(rows) == 1
    assert rows[0].format == "tar"
    rows_full = _walk_bytes("deep.tar", deep, ConvertOptions(max_depth=16))
    assert [(r.path, r.content) for r in rows_full] == [
        (
            "level4.tar/level3.tar/level2.tar/level1.tar/level0.tar/leaf.txt",
            b"bottom level",
        )
    ]


def test_truncated_gzip_emits_partial_content():
    # gzip stream cut mid-member → truncated content emitted
    # (reference src/batch.rs:41-59)
    payload = b"A" * 100_000
    blob = gzip_data(payload)
    truncated = blob[: len(blob) // 2]
    rows = _walk_bytes("trunc.gz", truncated)
    assert len(rows) == 1
    r = rows[0]
    assert 0 < len(r.content) < len(payload)
    assert r.content == payload[: len(r.content)]
    assert r.hash == hashlib.sha256(r.content).digest()
    assert r.size == len(r.content)


def test_cut_stream_keeps_every_whole_block_before_the_cut():
    """A cut plain tar member keeps every byte up to the cut; a cut
    gzip keeps every whole 8 KiB block decoded before the cut
    (PARITY.md §2.11 item 4)."""
    import zlib

    payload = b"".join(  # 102,400 incompressible bytes
        hashlib.sha256(i.to_bytes(4, "big")).digest() for i in range(3200)
    )
    tar = tar_archive({"m.bin": payload})
    rows = _walk_bytes("cut.tar", tar[: 512 + 60_000])
    assert [(r.path, r.content) for r in rows] == [("m.bin", payload[:60_000])]
    cut = gzip_data(payload)[:60_000]
    decoded = len(zlib.decompressobj(31).decompress(cut))
    assert decoded > 8192
    (row,) = _walk_bytes("cut.gz", cut)
    assert row.content == payload[: decoded - decoded % 8192]


def test_truncated_tar_stops_at_bad_entry():
    tar = tar_archive({"good.txt": b"G" * 600, "later.txt": b"L" * 600})
    truncated = tar[: 512 + 600]  # header + part of first member region
    rows = _walk_bytes("trunc.tar", truncated)
    # first member may be emitted (possibly truncated); iteration stops
    assert len(rows) <= 1
    if rows:
        assert rows[0].path == "good.txt"


def test_sparse_tar_member_is_expanded():
    """A plain tar member is read straight off the tar stream, a GNU
    sparse one through tarfile's reader, which fills its holes."""
    import tarfile

    info = tarfile.TarInfo("holes.bin")
    info.size = 4  # stored bytes: "AAAA" at offset 8 of 16
    hdr = bytearray(info.tobuf(tarfile.GNU_FORMAT))
    hdr[156:157] = tarfile.GNUTYPE_SPARSE
    hdr[386:410] = b"%011o\0%011o\0" % (8, 4)  # one (offset, numbytes) pair
    hdr[483:495] = b"%011o\0" % 16  # real size
    hdr[148:156] = b" " * 8
    hdr[148:156] = b"%06o\0 " % sum(hdr)  # header checksum
    blob = bytes(hdr) + b"AAAA".ljust(512, b"\0") + b"\0" * 1024
    rows = _walk_bytes("sparse.tar", blob)
    assert [(r.path, r.content) for r in rows] == [
        ("holes.bin", b"\0" * 8 + b"AAAA" + b"\0" * 4)
    ]


def test_extract_strings_rewrites_executables():
    # content/hash/size rewritten to newline-joined ascii runs
    # (reference src/batch.rs:114-121); non-executables untouched
    tar = tar_archive({"bin/tool": FAKE_ELF, "doc.txt": b"hello text file"})
    rows = _walk_bytes("exe.tar", tar, ConvertOptions(extract_strings=True))
    by_path = {r.path: r for r in rows}
    exe = by_path["bin/tool"]
    assert exe.format == "executable"
    text = exe.content.decode("ascii")
    assert "here is a long printable run one" in text
    assert "short" not in text.split("\n")  # below min_len 10
    assert exe.size == len(exe.content)
    assert exe.hash == hashlib.sha256(exe.content).digest()
    doc = by_path["doc.txt"]
    assert doc.content == b"hello text file"


def test_exe_without_flag_keeps_raw_bytes():
    tar = tar_archive({"bin/tool": FAKE_ELF})
    rows = _walk_bytes("exe.tar", tar, ConvertOptions(extract_strings=False))
    assert rows[0].content == FAKE_ELF
    assert rows[0].format == "executable"
    assert rows[0].hash == hashlib.sha256(FAKE_ELF).digest()


def test_corrupt_zip_member_never_crashes():
    # a STORED member with flipped payload bytes triggers BadZipFile
    # (CRC mismatch) during member read — must degrade to truncated/
    # skipped rows, not crash the walk
    import zipfile as zf_mod

    buf = io.BytesIO()
    with zf_mod.ZipFile(buf, "w", compression=zf_mod.ZIP_STORED) as zf:
        zf.writestr("ok.txt", b"fine content here")
        zf.writestr("bad.txt", b"payload-to-corrupt")
    blob = bytearray(buf.getvalue())
    idx = bytes(blob).find(b"payload-to-corrupt")
    blob[idx : idx + 7] = b"XXXXXXX"  # corrupt payload → CRC mismatch
    rows = _walk_bytes("corrupt.zip", bytes(blob))
    # ok.txt must survive; bad.txt may appear truncated/corrupt or not at
    # all — but nothing raises
    assert any(r.path == "ok.txt" and r.content == b"fine content here" for r in rows)
    for r in rows:
        assert r.hash == hashlib.sha256(r.content).digest()


class _ShortReadStream(io.RawIOBase):
    """Returns at most 100 bytes per read — models HTTP bodies and
    zstd stream_reader short reads."""

    def __init__(self, data: bytes):
        self._b = io.BytesIO(data)

    def readable(self):
        return True

    def readinto(self, b):
        data = self._b.read(min(len(b), 100))
        b[: len(data)] = data
        return len(data)


def test_short_read_stream_still_detects_tar():
    # tar magic sits at offset 257; a single short read must not make
    # the sniffer misclassify the archive as an opaque leaf
    data = tar_archive({"m1.txt": b"member one", "m2.txt": b"member two"})
    rows = list(
        walk_stream("short.tar", _ShortReadStream(data), len(data))
    )
    assert [(r.path, r.content) for r in rows] == [
        ("m1.txt", b"member one"),
        ("m2.txt", b"member two"),
    ]


def test_zip_inside_gzip_inside_tar():
    inner_zip = zip_archive({"n.txt": b"nested content"})
    gz = gzip_data(inner_zip)
    outer = tar_archive({"wrapped.zip.gz": gz})
    rows = _walk_bytes("outer.tar", outer)
    assert [(r.path, r.content) for r in rows] == [
        ("wrapped.zip.gz/n.txt", b"nested content")
    ]


# -- streaming zip walk (local-file-header parse, no spool) -----------------


class _NonSeekable(io.RawIOBase):
    """Write-only non-seekable sink — forces zipfile to emit data
    descriptors (flag bit 3), the streaming-writer wire format."""

    def __init__(self):
        self.buf = io.BytesIO()

    def writable(self):
        return True

    def write(self, b):
        return self.buf.write(b)

    def seekable(self):
        return False


def _descriptor_zip(files: dict[str, bytes], compression) -> bytes:
    import zipfile

    sink = _NonSeekable()
    with zipfile.ZipFile(sink, "w", compression=compression) as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return sink.buf.getvalue()


def _walk_with_counter(source: str, data: bytes):
    from archive_to_parquet_spark.sources.walker import Walker

    w = Walker(source)
    rows = list(w.walk(source, io.BytesIO(data), len(data)))
    return rows, w.zip_spool_fallbacks


def test_zip_streams_without_spool():
    """Plain (seekable-written) zips stream via sequential local-header
    parse — zero spool fallbacks."""
    data = zip_archive({"a.txt": b"alpha", "b.txt": b"beta" * 100}, with_dir=True)
    rows, fallbacks = _walk_with_counter("s.zip", data)
    assert [(r.path, r.content) for r in rows] == [
        ("a.txt", b"alpha"),
        ("b.txt", b"beta" * 100),
    ]
    assert fallbacks == 0


def test_nested_zip_streams_without_spool():
    inner = zip_archive({"deep.txt": b"nested content here"})
    outer = zip_archive({"inner.zip": inner, "top.txt": b"top level"})
    rows, fallbacks = _walk_with_counter("outer.zip", outer)
    assert {(r.path, r.content) for r in rows} == {
        ("inner.zip/deep.txt", b"nested content here"),
        ("top.txt", b"top level"),
    }
    assert fallbacks == 0


def test_zip_deflate_data_descriptor_streams():
    """Streaming-writer zips (deflate + data descriptor) still stream:
    the inflater finds the member end itself."""
    import zipfile as zf_mod

    files = {"x.txt": b"descriptor streamed " * 50, "y.txt": b"more bytes"}
    data = _descriptor_zip(files, zf_mod.ZIP_DEFLATED)
    rows, fallbacks = _walk_with_counter("d.zip", data)
    assert {(r.path, r.content) for r in rows} == set(files.items())
    assert fallbacks == 0


def test_zip_stored_data_descriptor_falls_back_to_spool():
    """stored + data descriptor is genuinely non-streamable (no way to
    find the member end) → first-member spool fallback, same rows."""
    import zipfile as zf_mod

    files = {"x.txt": b"stored with descriptor", "y.txt": b"second"}
    data = _descriptor_zip(files, zf_mod.ZIP_STORED)
    rows, fallbacks = _walk_with_counter("sd.zip", data)
    assert {(r.path, r.content) for r in rows} == set(files.items())
    assert fallbacks == 1


def _set_encrypted_bit(data: bytes, member: int) -> bytes:
    """Set the encryption flag on one member's local and central
    headers; the payload stays as it is."""
    blob = bytearray(data)
    for sig, flags_at in ((b"PK\x03\x04", 6), (b"PK\x01\x02", 8)):
        pos = -1
        for _ in range(member + 1):
            pos = blob.find(sig, pos + 1)
        blob[pos + flags_at] |= 0x01
    return bytes(blob)


@pytest.mark.parametrize("member, kept", [(0, []), (1, ["x.txt"])])
def test_encrypted_zip_member_stops_the_walk(member, kept):
    """An encrypted member ends the walk at that member: the rows before
    it stay and nothing raises (opening it, zipfile would ask for a
    password with a RuntimeError). Stored members with data descriptors take the spool
    path, which reads the members through zipfile."""
    import zipfile as zf_mod

    files = {"x.txt": b"stored with descriptor", "y.txt": b"second"}
    data = _set_encrypted_bit(_descriptor_zip(files, zf_mod.ZIP_STORED), member)
    rows, fallbacks = _walk_with_counter("enc.zip", data)
    assert [r.path for r in rows] == kept
    assert fallbacks == 1


def test_zip_stream_inside_tar_gz():
    """The full nesting matrix still works through the streaming path:
    tar.gz → zip → members."""
    inner_zip = zip_archive({"z.txt": b"zip in tar in gzip"})
    data = gzip_data(tar_archive({"payload.zip": inner_zip}))
    rows = _walk_bytes("mix.tar.gz", data)
    assert [(r.path, r.content) for r in rows] == [
        ("payload.zip/z.txt", b"zip in tar in gzip")
    ]


def test_zstd_decode_or_clear_error():
    """S9 zstd coverage: decode works through the zstandard module OR
    the zstd-binary subprocess fallback; only with NEITHER available
    does a zstd input fail loudly (never a silent misdetection).
    The no-codec error path is pinned in test_sources.py."""
    import pytest

    import archive_to_parquet_spark.sources.walker as walker_mod

    if not (walker_mod._HAS_ZSTD or walker_mod._ZSTD_BIN):
        data = b"\x28\xb5\x2f\xfd" + b"\x00" * 20  # zstd magic + junk
        with pytest.raises(RuntimeError, match="zstd"):
            _walk_bytes("f.zst", data)
        return
    if walker_mod._HAS_ZSTD:
        import zstandard

        data = zstandard.ZstdCompressor().compress(b"zstd payload content")
    else:
        import subprocess

        data = subprocess.run(
            [walker_mod._ZSTD_BIN, "-c"],
            input=b"zstd payload content",
            capture_output=True,
            check=True,
        ).stdout
    rows = _walk_bytes("f.zst", data)
    assert [r.content for r in rows] == [b"zstd payload content"]


def _ar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """Minimal GNU-style ar archive: long names via the // table."""
    long_names = [n for n, _ in members if len(n) > 15]
    table = b"".join(n.encode() + b"/\n" for n in long_names)
    out = bytearray(b"!<arch>\n")

    def hdr(name_field: str, size: int) -> bytes:
        h = f"{name_field:<16}{0:<12}{0:<6}{0:<6}{'100644':<8}{size:<10}"
        return h.encode("ascii") + b"\x60\n"

    if table:
        out += hdr("//", len(table)) + table
        if len(table) % 2:
            out += b"\n"
    offsets = {}
    off = 0
    for n in long_names:
        offsets[n] = off
        off += len(n) + 2
    for name, data in members:
        field = f"/{offsets[name]}" if len(name) > 15 else f"{name}/"
        out += hdr(field, len(data)) + data
        if len(data) % 2:
            out += b"\n"
    return bytes(out)


def _cpio_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """newc-format cpio archive."""
    out = bytearray()

    def rec(name: str, data: bytes, mode: int) -> None:
        nb = name.encode() + b"\x00"
        h = "070701" + f"{0:08x}{mode:08x}" + "0" * 8 * 4 + (
            f"{len(data):08x}" + "0" * 8 * 4 + f"{len(nb):08x}" + "0" * 8
        )
        out.extend(h.encode("ascii"))
        out.extend(nb)
        out.extend(b"\x00" * ((-(110 + len(nb))) % 4))
        out.extend(data)
        out.extend(b"\x00" * ((-len(data)) % 4))

    for name, data in members:
        rec(name, data, 0o100644)
    rec("TRAILER!!!", b"", 0)
    return bytes(out)


def test_walk_ar_archive(tmp_path):
    from archive_to_parquet_spark.sources.walker import walk_path

    members = [
        ("short.txt", b"short content here"),
        ("a-very-long-member-name-beyond-16.bin", b"odd"),  # odd size -> pad
    ]
    p = tmp_path / "lib.a"
    p.write_bytes(_ar_bytes(members))
    rows = {r.path: r for r in walk_path(str(p))}
    assert set(rows) == {m[0] for m in members}
    assert rows["short.txt"].content == b"short content here"
    assert rows["a-very-long-member-name-beyond-16.bin"].size == 3


def test_walk_cpio_archive_with_nested_tar(tmp_path):
    import io
    import tarfile

    from archive_to_parquet_spark.sources.walker import walk_path

    inner = io.BytesIO()
    with tarfile.open(fileobj=inner, mode="w") as tf:
        data = b"nested file content"
        info = tarfile.TarInfo("inner.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    members = [
        ("plain.txt", b"hello cpio"),
        ("bundle.tar", inner.getvalue()),
    ]
    p = tmp_path / "initrd.cpio"
    p.write_bytes(_cpio_bytes(members))
    rows = {r.path: r for r in walk_path(str(p))}
    # the tar member is recursed into: its leaf appears under its chain
    assert rows["plain.txt"].content == b"hello cpio"
    assert rows["bundle.tar/inner.txt"].content == b"nested file content"
    assert rows["plain.txt"].format == "unknown"


def test_walk_ar_inside_tar_gz(tmp_path):
    """Compression wrapping + recursion across the new formats."""
    import gzip as _gzip
    import io
    import tarfile

    from archive_to_parquet_spark.sources.walker import walk_path

    ar = _ar_bytes([("member.txt", b"ar in tar.gz")])
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        info = tarfile.TarInfo("inner.a")
        info.size = len(ar)
        tf.addfile(info, io.BytesIO(ar))
    p = tmp_path / "wrapped.tar.gz"
    p.write_bytes(_gzip.compress(buf.getvalue()))
    rows = {r.path: r for r in walk_path(str(p))}
    assert rows["inner.a/member.txt"].content == b"ar in tar.gz"


def test_deb_package_walks_end_to_end():
    """A Debian .deb is an ar archive holding control.tar.gz +
    data.tar.xz — the recursive walk must expand both nested tars in
    place (no special-casing: ar → sniff → tar.{gz,xz} recursion)."""
    import io as _io
    import tarfile as _tarfile

    def _tar(files, mode):
        buf = _io.BytesIO()
        with _tarfile.open(fileobj=buf, mode=mode) as tf:
            for n, d in files.items():
                info = _tarfile.TarInfo(n)
                info.size = len(d)
                tf.addfile(info, _io.BytesIO(d))
        return buf.getvalue()

    deb = _ar_bytes(
        [
            ("debian-binary", b"2.0\n"),
            ("control.tar.gz", _tar({"control": b"Package: demo\n"}, "w:gz")),
            (
                "data.tar.xz",
                _tar({"./usr/bin/demo": b"#!/bin/sh\necho demo\n"}, "w:xz"),
            ),
        ]
    )
    rows = _walk_bytes("demo.deb", deb)
    assert [(r.path, r.content) for r in rows] == [
        ("debian-binary", b"2.0\n"),
        ("control.tar.gz/control", b"Package: demo\n"),
        ("data.tar.xz/./usr/bin/demo", b"#!/bin/sh\necho demo\n"),
    ]


def test_hashed_meta_streams_without_buffering():
    """The pruned-path copy keeps only the sniff peek: hash/size equal
    the full read, retained bytes are capped at PEEK_SIZE."""
    import hashlib
    import io

    from archive_to_parquet_spark.functions.sniff import PEEK_SIZE
    from archive_to_parquet_spark.sources.walker import _hashed_read

    payload = bytes(range(256)) * 40_000  # ~10 MB
    peek, digest, size = _hashed_read(io.BytesIO(payload), keep=False)
    assert size == len(payload)
    assert digest == hashlib.sha256(payload).digest()
    assert len(peek) == PEEK_SIZE
    assert peek == payload[:PEEK_SIZE]


def test_walker_column_pruning_matches_full_walk(tmp_path):
    """columns without content: rows carry content=None but identical
    (path, size, hash, format) — including nested archives and format
    refinement via the peek."""
    import io

    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.sources.walker import walk_stream
    from tests.conftest import gzip_data, tar_archive, zip_archive

    blob = tar_archive(
        {
            "a.txt": b"alpha beta gamma",
            "inner.zip": zip_archive({"deep/b.bin": bytes(range(200))}),
            "c.gz": gzip_data(b"squeezed"),
        }
    )
    full = list(
        walk_stream("t.tar", io.BytesIO(blob), len(blob), ConvertOptions())
    )
    pruned = list(
        walk_stream(
            "t.tar",
            io.BytesIO(blob),
            len(blob),
            ConvertOptions(columns=("source", "path", "size", "hash", "format")),
        )
    )
    assert all(r.content is None for r in pruned)
    assert [(r.path, r.size, r.hash, r.format) for r in pruned] == [
        (r.path, r.size, r.hash, r.format) for r in full
    ]


def test_options_columns_validation():
    import pytest as _pytest

    from archive_to_parquet_spark.options import ConvertOptions, IncludeType

    with _pytest.raises(ValueError, match="subset"):
        ConvertOptions(columns=("nope",)).validate()
    with _pytest.raises(ValueError, match="pruned"):
        ConvertOptions(
            columns=("path",), include=IncludeType.TEXT
        ).validate()
    ConvertOptions(columns=("path", "hash")).validate()  # ok
