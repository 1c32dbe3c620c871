"""Property-based walker tests (hypothesis): arbitrary file trees
survive the archive → walk roundtrip bit-exactly."""

from __future__ import annotations

import hashlib
import io

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from archive_to_parquet_spark.sources.walker import walk_stream
from tests.conftest import bz2_data, gzip_data, tar_archive, xz_data, zip_archive

# member names: nonempty, no NUL/slash-weirdness that tarfile rejects
_name = st.text(
    alphabet=st.characters(
        codec="ascii", categories=("Lu", "Ll", "Nd"), include_characters="._-"
    ),
    min_size=1,
    max_size=24,
).filter(lambda s: s not in (".", "..") and not s.startswith("-"))

def _is_plain(b: bytes) -> bool:
    """Member content must not sniff as a compression/container format:
    the walker RECURSES into those by design (a member that happens to
    start with the 2-byte gzip magic is treated as a truncated gzip
    stream — hypothesis found exactly that with b"\x1f\x8b").
    Recursion-on-magic has its own tests (nested roundtrip, truncation
    fuzz); these roundtrip tests are about plain members."""
    from archive_to_parquet_spark.functions.sniff import (
        detect_compression,
        detect_format,
    )

    return detect_compression(b) is None and detect_format(b) not in (
        "tar",
        "zip",
        "warc",
        "ar",
        "cpio",
    )


_content = st.binary(min_size=1, max_size=4096).filter(_is_plain)
_files = st.dictionaries(_name, _content, min_size=1, max_size=8)


def _walk_bytes(source: str, blob: bytes):
    return list(walk_stream(source, io.BytesIO(blob), len(blob)))


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(files=_files)
def test_tar_roundtrip(files):
    rows = _walk_bytes("p.tar", tar_archive(files))
    assert {r.path: r.content for r in rows} == files
    for r in rows:
        assert r.hash == hashlib.sha256(r.content).digest()
        assert r.size == len(r.content)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(files=_files)
def test_zip_roundtrip(files):
    rows = _walk_bytes("p.zip", zip_archive(files))
    assert {r.path: r.content for r in rows} == files


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(files=_files, codec=st.sampled_from(["gz", "bz2", "xz"]))
def test_wrapped_tar_roundtrip(files, codec):
    tar = tar_archive(files)
    blob = {"gz": gzip_data, "bz2": bz2_data, "xz": xz_data}[codec](tar)
    rows = _walk_bytes(f"p.tar.{codec}", blob)
    assert {r.path: r.content for r in rows} == files


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(outer=_files, inner=_files)
def test_nested_roundtrip(outer, inner):
    blob = tar_archive({**outer, "nested.zip": zip_archive(inner)})
    rows = _walk_bytes("p.tar", blob)
    got = {r.path: r.content for r in rows}
    expected = {**outer, **{f"nested.zip/{k}": v for k, v in inner.items()}}
    # the inner zip may collide with an outer name — tarfile keeps both,
    # we just require all expected paths present with exact bytes
    for path, content in expected.items():
        assert got[path] == content


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(data=st.binary(min_size=0, max_size=2048), cut=st.floats(0.1, 0.95))
def test_truncated_gzip_never_crashes(data, cut):
    blob = gzip_data(data)
    truncated = blob[: max(1, int(len(blob) * cut))]
    rows = _walk_bytes("t.gz", truncated)
    # never raises; any emitted content is a prefix of the original
    for r in rows:
        assert data.startswith(r.content)
        assert r.hash == hashlib.sha256(r.content).digest()


def _warc_archive(resources: dict[str, bytes]) -> bytes:
    """Resource records only — payloads are arbitrary bytes, so the
    roundtrip must be bit-exact (no HTTP stripping on resource)."""
    out = bytearray()
    for name, payload in resources.items():
        head = (
            f"WARC/1.0\r\nWARC-Type: resource\r\n"
            f"WARC-Target-URI: {name}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        out += head + payload + b"\r\n\r\n"
    return bytes(out)


# WARC payloads must not themselves sniff as containers (a tar/zip/gzip
# payload legitimately recurses instead of roundtripping), so keep the
# first bytes out of magic space by prefixing a NUL
_opaque = st.binary(min_size=0, max_size=4096).map(lambda b: b"\x00" + b)
_resources = st.dictionaries(_name, _opaque, min_size=1, max_size=8)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(resources=_resources)
def test_warc_roundtrip(resources):
    rows = _walk_bytes("p.warc", _warc_archive(resources))
    assert {r.path: r.content for r in rows} == resources
    for r in rows:
        assert r.hash == hashlib.sha256(r.content).digest()


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(resources=_resources, cut=st.integers(min_value=0, max_value=200))
def test_truncated_warc_never_crashes(resources, cut):
    blob = _warc_archive(resources)
    cut_blob = blob[: max(0, len(blob) - cut)]
    rows = _walk_bytes("p.warc", cut_blob)
    # a cut inside the leading "WARC/" magic demotes the stream to an
    # opaque leaf (no longer sniffs as a container) — also crash-free
    if [r.path for r in rows] == ["p.warc"]:
        assert rows[0].content == cut_blob
        return
    # otherwise whatever is emitted is intact — truncation only ever
    # drops whole trailing records
    for r in rows:
        assert resources[r.path] == r.content


# -- buffered line reader equivalence (r3: WARC header fast path) -------------


class _ByteAtATime:
    """Adversarial inner stream: returns at most `step` bytes per read,
    exercising partial-read handling in the buffered reader."""

    def __init__(self, data: bytes, step: int):
        self._data = data
        self._pos = 0
        self._step = step

    def read(self, n: int) -> bytes:
        take = min(n, self._step, len(self._data) - self._pos)
        out = self._data[self._pos : self._pos + take]
        self._pos += take
        return out


def _naive_lines(data: bytes, limit: int = 64 * 1024) -> list[bytes | None]:
    """Reference semantics: per-byte reads, partial line at EOF kept,
    line over limit -> None and stop."""
    out: list[bytes | None] = []
    stream = io.BytesIO(data)
    while True:
        line = bytearray()
        over = False
        while True:
            b = stream.read(1)
            if not b:
                break
            line += b
            if b == b"\n":
                break
            if len(line) >= limit:
                over = True
                break
        if over:
            out.append(None)
            return out
        if not line:
            return out
        out.append(bytes(line))


@given(
    data=st.binary(max_size=2048).map(
        # salt in plenty of newlines so multi-line cases dominate
        lambda b: b.replace(b"\x00", b"\n")
    ),
    step=st.integers(min_value=1, max_value=97),
    chunk=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_line_buffered_stream_matches_naive_reader(data, step, chunk):
    from archive_to_parquet_spark.sources.walker import _Reader

    # the reader asks for whole chunks; capping each answer at `chunk`
    # bytes as well as `step` gives the same sequence of inner reads
    s = _Reader(_ByteAtATime(data, min(step, chunk)))
    got: list[bytes] = []
    while True:
        line = s.readline_lf()
        if line is None:
            break
        got.append(line)
    # naive never yields None for these sizes (limit 64k > 2k input)
    assert got == _naive_lines(data)


@given(
    data=st.binary(min_size=1, max_size=2048),
    split=st.integers(min_value=0, max_value=2048),
    step=st.integers(min_value=1, max_value=97),
    skip=st.integers(min_value=0, max_value=64),
    pushed=st.binary(max_size=64),
)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_line_buffered_stream_read_after_lines_loses_nothing(
    data, split, step, skip, pushed
):
    """Interleaving readline_lf, skip, push and bulk read() must
    reproduce the exact byte stream — over-read buffered bytes are never
    dropped (the WARC walk reads headers by line, then the payload by
    size; the sniff pushes its peeks back). The skipped bytes are pushed
    back, then ``pushed`` in front of them."""
    from archive_to_parquet_spark.sources.walker import _Reader

    split = min(split, len(data))
    prefix, rest = data[:split], data[split:]
    blob = prefix + b"\n" + rest
    s = _Reader(_ByteAtATime(blob, min(step, 31)))
    consumed = b""
    line = s.readline_lf()
    assert line is not None
    consumed += line
    skipped = blob[len(consumed) : len(consumed) + skip]
    assert s.skip(skip) == (len(skipped) == skip)
    s.push(skipped)
    s.push(pushed)
    tail = s.read(len(blob) + len(pushed))
    assert tail[: len(pushed)] == pushed
    assert consumed + tail[len(pushed) :] == blob
