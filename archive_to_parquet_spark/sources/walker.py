"""Recursive archive walker — the engine's custom scan (S5–S11).

Pure-Python streaming walk of (possibly compressed, possibly nested)
archives, emitting one row per extracted file with a fused streaming
SHA-256. This is the only genuinely non-relational component; it runs
inside ``mapInArrow`` on executors (see ``archive_source.py``), one
size-balanced bin of input archives per task, so the cluster
parallelizes across inputs and everything downstream is stock
DataFrame ops.

Reference semantics preserved (file:line into /root/reference/):

- depth-first walk, pre/post archive hooks: src/anyreader_walker/stack.rs:7-40
- two-stage sniff (compression 6B, container/exe 262B):
  src/anyreader/compression.rs:36-63, src/anyreader/format.rs:15-52
- tar member iteration skips non-regular and empty entries, stops at the
  first bad entry: src/anyreader_walker/walkers/tarfile.rs:21-33
- zip likewise, streaming read, silent stop on bad entry:
  src/anyreader_walker/walkers/zipfile.rs:21-32
- quine guard: a zip whose (name, size) equals the enclosing archive is
  emitted as a leaf row, not recursed: src/visitor.rs:88-107
- nested path = archive chain minus the root, joined with '/':
  src/anyreader_walker/utils.rs:38-55, src/batch.rs:110-111
- truncated content is emitted, not errored (bytes-copied-so-far):
  src/batch.rs:41-59
- executables with extract_strings rewrite content/hash/size to the
  newline-joined ascii strings: src/batch.rs:114-121
"""

from __future__ import annotations

import bz2
import gzip
import hashlib
import io
import lzma
import shutil
import struct
import subprocess
import tarfile
import tempfile
import threading
import zipfile
import zlib
from collections.abc import Iterator
from dataclasses import dataclass

from archive_to_parquet_spark.functions.sniff import (
    PEEK_SIZE,
    detect_compression,
    detect_format,
)
from archive_to_parquet_spark.functions.strings import joined_ascii_strings
from archive_to_parquet_spark.options import ConvertOptions

try:  # optional codec — not in every container
    import zstandard  # type: ignore

    _HAS_ZSTD = True
except ImportError:
    _HAS_ZSTD = False

# subprocess fallback: the zstd(1) binary decodes when the module is
# absent (reference decodes zstd natively, src/anyreader/compression.rs:47-55)


def _find_zstd_bin() -> str | None:
    """``shutil.which`` first, then conventional install prefixes that a
    restricted PATH may omit (conda envs, /usr/local): executor Python
    workers inherit a PATH the cluster manager builds, which routinely
    drops the prefix the binary was installed under."""
    found = shutil.which("zstd")
    if found:
        return found
    import os as _os

    home = _os.path.expanduser("~")
    candidates = [
        _os.path.join(_os.environ.get("CONDA_PREFIX", ""), "bin", "zstd"),
        _os.path.join(home, "miniconda", "bin", "zstd"),
        _os.path.join(home, "miniconda3", "bin", "zstd"),
        _os.path.join(home, "anaconda3", "bin", "zstd"),
        "/opt/conda/bin/zstd",
        "/usr/local/bin/zstd",
        "/usr/bin/zstd",
    ]
    for c in candidates:
        if c and _os.path.isfile(c) and _os.access(c, _os.X_OK):
            return c
    return None


_ZSTD_BIN = _find_zstd_bin()

# content-copy chunk size. The reference copies in 8 KiB chunks
# (src/batch.rs:42) — cheap in Rust, but every .read() call here is a
# Python-level round-trip through the decoder adapter stack, so larger
# chunks win: measured 257 → 368 MB/s single-thread tar walk moving
# 8 KiB → 64 KiB (256 KiB adds ~1%, not worth the extra buffer memory
# per concurrent walk task).
_COPY_BUF = 64 * 1024
_SPOOL_MAX = 64 * 1024 * 1024  # zip spool: memory below this, disk above


@dataclass(frozen=True)
class EntryRow:
    """One extracted file (the canonical table row, §1.1)."""

    source: str
    path: str
    size: int
    hash: bytes
    content: bytes | None  # None under column pruning (options.columns)
    format: str


@dataclass(frozen=True)
class _StackFrame:
    """EntryDetails on the recursion stack (reference entry.rs:12-25)."""

    name: str
    size: int


def _wrap_decoder(stream: io.BufferedReader, kind: str):
    if kind == "gzip":
        return gzip.GzipFile(fileobj=stream)
    if kind == "bzip2":
        return bz2.BZ2File(stream)
    if kind == "xz":
        # FORMAT_XZ decoder loops over concatenated streams by default,
        # mirroring the reference's new_multi_decoder (compression.rs:57)
        return lzma.LZMAFile(stream, format=lzma.FORMAT_XZ)
    if kind == "zstd":
        if _HAS_ZSTD:
            return zstandard.ZstdDecompressor().stream_reader(stream)
        if _ZSTD_BIN:
            return _SubprocessZstdReader(stream)
        raise RuntimeError(
            "zstd input but neither the zstandard module nor a zstd binary "
            "is available"
        )
    raise AssertionError(kind)


class ZstdDecodeError(Exception):
    """Corrupt zstd input detected by the subprocess decoder — the twin
    of ``zstandard.ZstdError`` from the in-process path, and like it NOT
    absorbed by ``_RawAdapter``'s truncation catch list: genuinely bad
    zstd fails the walk loudly in both decode paths."""


class _SubprocessZstdReader:
    """Streaming zstd decode through the ``zstd -dc`` binary — the
    fallback when the ``zstandard`` module is absent (reference decodes
    zstd natively, src/anyreader/compression.rs:47-55; the CLI handles
    concatenated + skippable frames the same way).

    A feeder thread pumps the source stream into the child's stdin so
    decode is pipelined and memory stays bounded by pipe buffers.
    At EOF the child's exit status is checked: a nonzero exit raises
    ``ZstdDecodeError`` (with the child's stderr), so corrupt input is
    distinguishable from clean end-of-stream exactly like the
    in-process decoder's ``ZstdError`` — previously both surfaced as
    silent EOF and a truncated decode could be recorded as a
    successful walk."""

    def __init__(self, stream):
        self._proc = subprocess.Popen(
            [_ZSTD_BIN, "-dc"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        self._stderr_chunks: list[bytes] = []
        self._checked = False
        self._feeder = threading.Thread(
            target=self._feed, args=(stream,), daemon=True
        )
        self._feeder.start()
        self._stderr_drain = threading.Thread(
            target=self._drain_stderr, daemon=True
        )
        self._stderr_drain.start()

    def _feed(self, stream) -> None:
        try:
            while True:
                chunk = stream.read(64 * 1024)
                if not chunk:
                    break
                self._proc.stdin.write(chunk)
        except (OSError, ValueError):
            pass  # reader stopped early (BrokenPipe) or source failed
        finally:
            try:
                self._proc.stdin.close()
            except OSError:
                pass

    def _drain_stderr(self) -> None:
        try:
            while True:
                chunk = self._proc.stderr.read(64 * 1024)
                if not chunk:
                    break
                self._stderr_chunks.append(chunk)
        except (OSError, ValueError):
            pass

    def read(self, n: int = -1) -> bytes:
        data = self._proc.stdout.read(n)
        if data:
            return data
        if not self._checked:
            self._checked = True
            self._stderr_drain.join(timeout=10)
            try:
                rc = self._proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                return b""  # child hung; close() will kill it
            if rc != 0:
                msg = (
                    b"".join(self._stderr_chunks)
                    .decode("utf-8", "replace")
                    .strip()
                )
                raise ZstdDecodeError(
                    f"zstd exited with status {rc}: {msg or 'no stderr'}"
                )
        return b""

    def close(self) -> None:
        try:
            self._proc.stdout.close()
            self._proc.stderr.close()
        finally:
            self._proc.kill()
            self._proc.wait()

    def __del__(self):  # backstop: no fd/process leak on abandoned readers
        try:
            self.close()
        except Exception:
            pass


def sniff_stream(stream) -> tuple[str, io.BufferedReader]:
    """Two-stage sniff. Returns (format_kind, readable stream positioned
    at the logical start of the decompressed data).

    Peeks use exact-read loops + prefix push-back rather than
    ``BufferedReader.peek`` — peek performs a single raw read and may
    return fewer than the requested bytes on short-read streams, which
    made tar detection (magic at offset 257) silently fail."""
    tolerant = io.BufferedReader(_as_raw(stream))
    head = _read_exact(tolerant, 6)
    rewound = io.BufferedReader(_RawAdapter(tolerant, prefix=head))
    compression = detect_compression(head)
    if compression is not None:
        decoder = _wrap_decoder(rewound, compression)
        decoded_tolerant = io.BufferedReader(_RawAdapter(decoder))
        inner = _read_exact(decoded_tolerant, PEEK_SIZE)
        decoded = io.BufferedReader(_RawAdapter(decoded_tolerant, prefix=inner))
        return detect_format(inner, compression), decoded
    peek = _read_exact(rewound, PEEK_SIZE)
    out = io.BufferedReader(_RawAdapter(rewound, prefix=peek))
    return detect_format(peek, None), out


class _RawAdapter(io.RawIOBase):
    """Adapt any .read()-able object to RawIOBase for BufferedReader,
    optionally serving a pushed-back prefix first.

    Decoder/container errors (truncated gzip/bz2/xz streams, CRC
    failures, bad zip members) are converted to EOF so
    partially-readable content is emitted as-is — the reference's
    ``infallable_copy`` contract (src/batch.rs:41-59). This sits below
    BOTH the sniffing peek and the content copy, so a stream cut or a
    corrupt member anywhere yields a truncated row, never a crash.
    """

    def __init__(self, inner, prefix: bytes = b""):
        self._inner = inner
        self._prefix = prefix
        self._failed = False

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self._prefix:
            n = min(len(b), len(self._prefix))
            b[:n] = self._prefix[:n]
            self._prefix = self._prefix[n:]
            return n
        if self._failed:
            return 0
        try:
            data = self._inner.read(len(b))
        except (
            OSError,
            EOFError,
            zlib.error,
            lzma.LZMAError,
            zipfile.BadZipFile,
            tarfile.ReadError,
        ):
            # note: zipfile raises BadZipFile on a CRC mismatch while
            # READING a member — reachable from the sniff peek, outside
            # _walk_zip's zf.open guard
            self._failed = True
            return 0
        if not data:
            return 0
        b[: len(data)] = data
        return len(data)


def _read_exact(stream, n: int) -> bytes:
    """Read exactly n bytes unless EOF — a single .read(n) may return
    fewer on short-read streams (HTTP bodies, zstd stream_reader), which
    previously made 262-byte container sniffing silently misdetect."""
    chunks: list[bytes] = []
    got = 0
    while got < n:
        data = stream.read(n - got)
        if not data:
            break
        chunks.append(data)
        got += len(data)
    return b"".join(chunks)


def _as_raw(obj) -> io.RawIOBase:
    return obj if isinstance(obj, io.RawIOBase) else _RawAdapter(obj)


def _hashed_copy(stream) -> tuple[bytes, bytes, int]:
    """Read to EOF with fused SHA-256; on mid-read errors return bytes
    copied so far (reference infallable_copy, src/batch.rs:41-59)."""
    hasher = hashlib.sha256()
    chunks: list[bytes] = []
    total = 0
    try:
        while True:
            chunk = stream.read(_COPY_BUF)
            if not chunk:
                break
            hasher.update(chunk)
            chunks.append(chunk)
            total += len(chunk)
    except (OSError, EOFError, lzma.LZMAError, zipfile.BadZipFile, tarfile.ReadError):
        pass  # truncated content is emitted as-is
    return b"".join(chunks), hasher.digest(), total


def _hashed_meta(stream) -> tuple[bytes, bytes, int]:
    """Read to EOF with fused SHA-256 WITHOUT buffering the payload —
    the column-pruned ingest path (``options.columns`` excludes
    ``content``): only the first PEEK_SIZE bytes are kept for format
    refinement, so a manifest / hash-only-dedup scan never materializes
    entry bytes beyond one 64 KiB copy buffer (``_COPY_BUF``). Same
    truncation tolerance as `_hashed_copy`."""
    hasher = hashlib.sha256()
    peek = b""
    total = 0
    try:
        while True:
            chunk = stream.read(_COPY_BUF)
            if not chunk:
                break
            hasher.update(chunk)
            if len(peek) < PEEK_SIZE:
                peek += chunk[: PEEK_SIZE - len(peek)]
            total += len(chunk)
    except (OSError, EOFError, lzma.LZMAError, zipfile.BadZipFile, tarfile.ReadError):
        pass
    return peek, hasher.digest(), total


# -- WARC record machinery -----------------------------------------------------


class _LineBufferedStream:
    """Chunked sequential reader with LF-line splitting for the WARC
    header parse. Replaces the former per-byte ``read(1)`` loop (a
    100M-record Common Crawl segment paid hundreds of Python calls per
    record before any payload moved) with 64 KiB buffered chunks and
    ``bytes.find(b"\\n")``; ``read()`` consumes the buffer first so
    over-read bytes are never lost, then reads the tail directly from
    the inner stream (no extra copy for large payloads)."""

    __slots__ = ("_inner", "_chunk", "_buf", "_pos")

    def __init__(self, inner, chunk: int = 64 * 1024):
        self._inner = inner
        self._chunk = chunk
        self._buf = b""
        self._pos = 0

    def readline_lf(self, limit: int = 64 * 1024) -> bytes | None:
        """One LF-terminated line (terminator included). At EOF a
        partial line is returned as-is; EOF at line start → None; a
        line longer than ``limit`` → None (malformed input)."""
        parts: list[bytes] = []
        size = 0
        while size <= limit:
            if self._pos >= len(self._buf):
                data = self._inner.read(self._chunk)
                if not data:
                    return b"".join(parts) if parts else None
                self._buf = data
                self._pos = 0
            nl = self._buf.find(b"\n", self._pos)
            if nl >= 0:
                parts.append(self._buf[self._pos : nl + 1])
                self._pos = nl + 1
                line = b"".join(parts)
                return line if len(line) <= limit else None
            parts.append(self._buf[self._pos :])
            size += len(self._buf) - self._pos
            self._pos = len(self._buf)
        return None

    def read(self, n: int) -> bytes:
        out: list[bytes] = []
        got = 0
        while got < n:
            if self._pos < len(self._buf):
                take = self._buf[self._pos : self._pos + (n - got)]
                self._pos += len(take)
                out.append(take)
                got += len(take)
                continue
            data = self._inner.read(n - got)
            if not data:
                break
            out.append(data)
            got += len(data)
        return b"".join(out)


def _read_mime_headers(stream: _LineBufferedStream) -> dict[str, str] | None:
    """Read CRLF-separated ``Name: value`` headers up to the blank line.
    Keys are lower-cased; continuation lines and malformed lines are
    skipped. None if EOF hits before the blank line."""
    headers: dict[str, str] = {}
    while True:
        line = stream.readline_lf()
        if line is None:
            return None
        line = line.rstrip(b"\r\n")
        if line == b"":
            return headers
        name, sep, value = line.partition(b":")
        if sep:
            headers[name.strip().lower().decode("latin-1")] = (
                value.strip().decode("latin-1", "replace")
            )


def _http_body(message: bytes) -> bytes:
    """Strip the HTTP response header block from a captured message and
    return the entity body, decoding chunked transfer-encoding when
    declared. On any parse failure the raw remainder (or the full
    message) is returned — truncated/odd captures degrade to bytes, not
    errors (infallable-copy spirit)."""
    sep = message.find(b"\r\n\r\n")
    sep_len = 4
    if sep < 0:
        sep = message.find(b"\n\n")
        sep_len = 2
    if sep < 0:
        return message
    head, body = message[:sep], message[sep + sep_len :]
    if b"chunked" not in head.lower():
        return body
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            return bytes(out) if out else body
        size_token = body[pos:nl].strip().split(b";")[0]
        try:
            size = int(size_token, 16)
        except ValueError:
            return bytes(out) if out else body
        if size == 0:
            return bytes(out)
        chunk = body[nl + 1 : nl + 1 + size]
        if len(chunk) < size:
            out += chunk  # truncated final chunk: keep what we have
            return bytes(out)
        out += chunk
        pos = nl + 1 + size
        # chunk data is followed by CRLF
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1


# -- streaming-zip machinery ---------------------------------------------------


class _PushbackStream:
    """Sequential reader with a pushback buffer (for bytes the deflate
    scanner over-read past a member's end)."""

    __slots__ = ("_inner", "_buf")

    def __init__(self, inner):
        self._inner = inner
        self._buf = b""

    def read(self, n: int) -> bytes:
        out: list[bytes] = []
        got = 0
        while got < n:
            if self._buf:
                take = self._buf[: n - got]
                self._buf = self._buf[len(take):]
                out.append(take)
                got += len(take)
                continue
            data = self._inner.read(n - got)
            if not data:
                break
            out.append(data)
            got += len(data)
        return b"".join(out)

    def push(self, data: bytes) -> None:
        if data:
            self._buf = data + self._buf

    def drain_pushback(self) -> bytes:
        buf, self._buf = self._buf, b""
        return buf


def _skip_bytes(s: _PushbackStream, n: int) -> bool:
    left = n
    while left > 0:
        d = s.read(min(65536, left))
        if not d:
            return False
        left -= len(d)
    return True


def _consume_descriptor(s: _PushbackStream, zip64: bool) -> None:
    """Consume a data descriptor: optional PK\\x07\\x08 signature, then
    crc + compressed size + uncompressed size (8-byte sizes if zip64)."""
    body_len = 16 if zip64 else 12
    head = s.read(4)
    if head == b"PK\x07\x08":
        s.read(body_len)
    else:
        s.read(body_len - 4)


class _BoundedReader:
    """Exactly ``size`` bytes of a STORED member from the sequential
    stream."""

    def __init__(self, s: _PushbackStream, size: int):
        self._s = s
        self._left = size

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._left
        if self._left <= 0 or n <= 0:
            return b""
        data = self._s.read(min(n, self._left))
        self._left -= len(data)
        return data

    def drain(self) -> None:
        while self._left > 0:
            d = self._s.read(min(65536, self._left))
            if not d:
                break
            self._left -= len(d)


class _DeflateReader:
    """Streaming inflate of a member with KNOWN compressed size."""

    def __init__(self, s: _PushbackStream, csize: int):
        self._s = s
        self._left = csize
        self._z = zlib.decompressobj(-15)
        self._buf = bytearray()
        self._eof = False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = 1 << 62
        while len(self._buf) < n and not self._eof:
            if self._z.eof or self._left <= 0:
                self._eof = True
                break
            chunk = self._s.read(min(65536, self._left))
            if not chunk:
                self._eof = True
                break
            self._left -= len(chunk)
            try:
                self._buf += self._z.decompress(chunk)
            except zlib.error:
                self._eof = True  # truncated content is emitted as-is
                break
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def drain(self) -> None:
        while self._left > 0:
            d = self._s.read(min(65536, self._left))
            if not d:
                break
            self._left -= len(d)


class _DeflateDescReader:
    """Streaming inflate of a data-descriptor member (compressed size
    unknown): the inflater detects the deflate stream's end, and the
    bytes it over-read (``unused_data``) are pushed back for the next
    header parse."""

    def __init__(self, s: _PushbackStream):
        self._s = s
        self._z = zlib.decompressobj(-15)
        self._buf = bytearray()
        self._eof = False

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = 1 << 62
        while len(self._buf) < n and not self._eof:
            chunk = self._s.read(65536)
            if not chunk:
                self._eof = True
                break
            try:
                self._buf += self._z.decompress(chunk)
            except zlib.error:
                self._eof = True
                break
            if self._z.eof:
                self._s.push(self._z.unused_data)
                self._eof = True
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def drain(self) -> None:
        while not self._eof:
            self.read(1 << 20)
            self._buf.clear()
        self._buf.clear()


class Walker:
    """Overridable visitor (the library extension surface, mirroring the
    reference's AnyWalker trait — src/anyreader_walker/stack.rs:7-24).

    Subclass and override ``visit_file_entry`` /
    ``begin_visit_archive`` / ``end_visit_archive`` for custom
    consumers; the default implementation yields EntryRows.
    """

    def __init__(self, source: str, options: ConvertOptions | None = None):
        self.source = source
        self.options = options or ConvertOptions()
        self.stack: list[_StackFrame] = []
        # diagnostic: how many zips could NOT be streamed and fell back
        # to the spooled zipfile path (data-descriptor+stored, encrypted,
        # exotic method) — asserted on in tests
        self.zip_spool_fallbacks = 0

    # -- hooks ---------------------------------------------------------

    def begin_visit_archive(self, name: str, size: int) -> bool:
        """Return False to skip recursing (the entry is then emitted as a
        plain file row). Default: quine + depth guard (src/visitor.rs:88-107)."""
        if len(self.stack) >= self.options.max_depth:
            return False
        if self.stack and self.stack[-1] == _StackFrame(name, size):
            return False  # self-containing archive (quine zip bomb)
        return True

    def end_visit_archive(self) -> None:
        pass

    def visit_file_entry(self, row: EntryRow) -> EntryRow | None:
        """Transform/filter a leaf row; None drops it."""
        return row

    # -- mechanics ------------------------------------------------------

    def _nested_path(self, entry_name: str) -> str:
        # archive chain minus the root element (utils.rs:49-55): the
        # top-level input archive is the stack's first frame and does NOT
        # appear in `path` — only nested archives and the entry name do.
        parts = [f.name for f in self.stack[1:]] + [entry_name]
        return "/".join(parts)

    # kind → walker method: the extension point for new container
    # formats (ar and cpio are beyond-reference additions; tar/zip
    # mirror the reference's walker set)
    _ARCHIVE_WALKERS = {
        "tar": "_walk_tar",
        "zip": "_walk_zip",
        "ar": "_walk_ar",
        "cpio": "_walk_cpio",
        "warc": "_walk_warc",
    }

    def walk(self, name: str, stream, declared_size: int) -> Iterator[EntryRow]:
        """Walk one entry: recurse into registered container formats,
        else emit leaf."""
        kind, decoded = sniff_stream(stream)
        if kind in self._ARCHIVE_WALKERS:
            if self.begin_visit_archive(name, declared_size):
                self.stack.append(_StackFrame(name, declared_size))
                try:
                    yield from getattr(self, self._ARCHIVE_WALKERS[kind])(
                        decoded
                    )
                finally:
                    self.stack.pop()
                    self.end_visit_archive()
            else:
                # skipped archive (quine / max depth) → emitted as a plain
                # file row with its archive format kind (visitor.rs:94-100)
                yield from self._leaf(name, decoded, kind)
            return
        # leaf (any compression already stripped by sniff_stream)
        yield from self._leaf(name, decoded, kind)

    def _leaf(self, name: str, decoded, kind: str) -> Iterator[EntryRow]:
        want_content = self.options.wants("content")
        if want_content or self.options.extract_strings:
            # extract_strings rewrites executable payloads, so hash/size
            # depend on the full bytes even when content is pruned
            content, digest, size = _hashed_copy(decoded)
            fmt = (
                kind
                if kind != "unknown"
                else detect_format(content[:PEEK_SIZE], None)
            )
            if self.options.extract_strings and fmt == "executable":
                content = joined_ascii_strings(
                    content, self.options.min_string_len
                )
                digest = hashlib.sha256(content).digest()
                size = len(content)
            if not want_content:
                content = None
        else:
            # pruned path: fused hash over a bounded copy buffer; only
            # the sniff peek is retained
            peek, digest, size = _hashed_meta(decoded)
            fmt = kind if kind != "unknown" else detect_format(peek, None)
            content = None
        row = EntryRow(
            source=self.source,
            path=self._nested_path(name),
            size=size,
            hash=digest,
            content=content,
            format=fmt,
        )
        out = self.visit_file_entry(row)
        if out is not None:
            yield out

    def _walk_tar(self, stream) -> Iterator[EntryRow]:
        """Streaming tar iteration; skip non-regular and empty members;
        stop at the first bad entry (walkers/tarfile.rs:21-33)."""
        try:
            tf = tarfile.open(fileobj=stream, mode="r|")
        except (tarfile.ReadError, OSError, EOFError):
            return
        try:
            while True:
                try:
                    member = tf.next()
                except (tarfile.ReadError, OSError, EOFError):
                    return  # stop silently (tarfile.rs:23)
                if member is None:
                    return
                if not member.isreg() or member.size == 0:
                    continue  # skip predicate (tarfile.rs:24)
                fobj = tf.extractfile(member)
                if fobj is None:
                    continue
                yield from self.walk(member.name, fobj, member.size)
        finally:
            try:
                tf.close()
            except Exception:
                pass

    def _walk_ar(self, stream) -> Iterator[EntryRow]:
        """Streaming Unix ar(1) walk (deb packages, static libraries) —
        beyond-reference format. Fixed 60-byte headers after the
        ``!<arch>\\n`` global magic; data padded to even offsets. GNU
        long names resolve through the ``//`` extension table, BSD
        ``#1/N`` names are read from the data prefix; the ``/`` symbol
        table is skipped. Stops silently at the first malformed header
        (tar stop-at-first-bad-entry contract)."""
        if _read_exact(stream, 8) != b"!<arch>\n":
            return
        gnu_names: dict[int, str] = {}
        while True:
            hdr = _read_exact(stream, 60)
            if len(hdr) < 60 or hdr[58:60] != b"\x60\n":
                return
            try:
                raw_name = hdr[0:16].decode("ascii").rstrip()
                size = int(hdr[48:58].decode("ascii").strip() or "0")
            except (UnicodeDecodeError, ValueError):
                return
            pad = size % 2
            if raw_name == "//":  # GNU extended-name table
                table = _read_exact(stream, size)
                _read_exact(stream, pad)
                off = 0
                for line in table.split(b"\n"):
                    entry = line.decode("ascii", "replace").rstrip("/\r")
                    if entry:
                        gnu_names[off] = entry
                    off += len(line) + 1
                continue
            if raw_name == "/":  # symbol table
                _read_exact(stream, size)
                _read_exact(stream, pad)
                continue
            name = raw_name
            body = _BoundedReader(stream, size)
            if raw_name.startswith("#1/"):  # BSD embedded long name
                try:
                    nlen = int(raw_name[3:])
                except ValueError:
                    return
                name = (
                    _read_exact(body, nlen).decode("utf-8", "replace").rstrip("\x00")
                )
            elif raw_name.startswith("/") and raw_name[1:].isdigit():
                name = gnu_names.get(int(raw_name[1:]), raw_name)
            elif raw_name.endswith("/"):  # GNU short-name terminator
                name = raw_name[:-1]
            if size > 0:
                yield from self.walk(name, body, size)
            body.drain()
            _read_exact(stream, pad)

    def _walk_cpio(self, stream) -> Iterator[EntryRow]:
        """Streaming cpio walk, newc/crc variants (``070701``/``070702``
        — initramfs, kernel archives) — beyond-reference format.
        110-char ASCII-hex headers; name and data each padded to 4-byte
        boundaries; ``TRAILER!!!`` ends the stream. Non-regular and
        empty members are skipped (tar skip-predicate parity); a
        malformed header stops the walk silently."""
        while True:
            hdr = _read_exact(stream, 110)
            if len(hdr) < 110 or hdr[:6] not in (b"070701", b"070702"):
                return
            try:
                fields = [
                    int(hdr[6 + i * 8 : 14 + i * 8], 16) for i in range(13)
                ]
            except ValueError:
                return
            mode, filesize, namesize = fields[1], fields[6], fields[11]
            raw_name = _read_exact(stream, namesize)
            _read_exact(stream, (-(110 + namesize)) % 4)
            name = raw_name.decode("utf-8", "replace").rstrip("\x00")
            if name == "TRAILER!!!":
                return
            body = _BoundedReader(stream, filesize)
            is_regular = (mode & 0o170000) == 0o100000
            if is_regular and filesize > 0:
                yield from self.walk(name, body, filesize)
            body.drain()
            _read_exact(stream, (-filesize) % 4)

    def _walk_warc(self, stream) -> Iterator[EntryRow]:
        """Streaming WARC walk (ISO 28500 — Common Crawl's capture
        format) — beyond-reference format, the canonical source for
        web-scale training corpora. Sequential record parse: a
        ``WARC/x.y`` version line, CRLF-terminated headers, a payload of
        exactly ``Content-Length`` bytes, then a blank-line separator.
        A ``.warc.gz`` with one gzip member per record (the Common
        Crawl layout) decodes transparently — Python's gzip reader
        walks concatenated members, mirroring the multi-stream xz
        contract above.

        Record selection mirrors the tar skip-predicate: ``response``,
        ``resource`` and ``conversion`` records are walked (named by
        WARC-Target-URI); ``warcinfo``/``request``/``metadata``/
        ``continuation`` records are skipped. For response records the
        stored HTTP message's header block is stripped (with chunked
        transfer-encoding decoded) so the emitted content is the actual
        captured body; the payload is recursed through ``walk`` so an
        archive body (e.g. a .tar.gz download) expands in place. A
        malformed version line or header block stops the walk silently
        (stop-at-first-bad-entry contract, tarfile.rs:23)."""
        stream = _LineBufferedStream(stream)
        n_records = 0
        while True:
            # version line, tolerating blank separator lines before it
            line = stream.readline_lf()
            while line is not None and line.strip(b"\r\n") == b"":
                line = stream.readline_lf()
            if line is None or not line.startswith(b"WARC/"):
                return
            headers = _read_mime_headers(stream)
            if headers is None:
                return
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                return
            payload = _read_exact(stream, length)
            if len(payload) < length:
                return  # truncated record: stop silently
            n_records += 1
            rec_type = headers.get("warc-type", "").lower()
            if rec_type not in ("response", "resource", "conversion"):
                continue
            name = headers.get("warc-target-uri") or headers.get(
                "warc-record-id", f"record-{n_records}"
            )
            name = name.strip("<>")
            if rec_type == "response" and payload[:5] == b"HTTP/":
                payload = _http_body(payload)
            if not payload:
                continue  # empty-member skip predicate
            yield from self.walk(name, io.BytesIO(payload), len(payload))

    def _walk_zip(self, stream) -> Iterator[EntryRow]:
        """TRUE streaming zip walk: sequential local-file-header parse
        (PK\\x03\\x04 records, no central directory — reference
        read_zipfile_from_stream, walkers/zipfile.rs:21-32). Stored and
        deflate members stream straight through — including
        deflate+data-descriptor (the inflater detects its own end) — so
        the common docker-layer-style nested zip pays NO spool.

        The spooled zipfile path remains only as a first-member fallback
        for genuinely non-streamable zips (stored+data-descriptor,
        encryption, exotic methods); hitting such a member after earlier
        ones have been emitted stops the walk silently, matching the
        stop-at-first-bad-entry contract. Member CRCs are not verified —
        the spool path's observable behavior is the same (zipfile's CRC
        error is swallowed by the infallable-copy contract and the bytes
        are emitted as-is).

        Skip predicate parity (zipfile.rs:23): directories and empty
        members are skipped — for descriptor members (size unknown
        upfront) via a one-byte decompressed peek."""
        s = _PushbackStream(stream)
        emitted_any = False
        while True:
            sig = s.read(4)
            if sig != b"PK\x03\x04":
                return  # central directory / EOF / garbage → stop
            hdr = s.read(26)
            if len(hdr) < 26:
                return
            (_ver, flags, method, _mt, _md, _crc, csize, usize, nlen, elen) = (
                struct.unpack("<HHHHHIIIHH", hdr)
            )
            raw_name = s.read(nlen)
            extra = s.read(elen)
            if len(raw_name) < nlen or len(extra) < elen:
                return
            # name encoding parity with zipfile: utf-8 iff flag bit 11
            name = (
                raw_name.decode("utf-8", "replace")
                if flags & 0x800
                else raw_name.decode("cp437")
            )
            zip64 = False
            if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF:
                i = 0
                while i + 4 <= len(extra):
                    tag, ln = struct.unpack("<HH", extra[i : i + 4])
                    if tag == 0x0001 and ln >= 16:
                        usize, csize = struct.unpack("<QQ", extra[i + 4 : i + 20])
                        zip64 = True
                        break
                    i += 4 + ln
            has_desc = bool(flags & 0x08)
            encrypted = bool(flags & 0x01)
            if encrypted or method not in (0, 8) or (has_desc and method == 0):
                if emitted_any:
                    return  # stop silently (zipfile.rs:22)
                self.zip_spool_fallbacks += 1
                prefix = sig + hdr + raw_name + extra + s.drain_pushback()
                yield from self._walk_zip_spool(stream, prefix=prefix)
                return
            is_dir = name.endswith("/")
            if not has_desc:
                if is_dir or usize == 0:
                    if not _skip_bytes(s, csize):
                        return
                    continue  # skip predicate (zipfile.rs:23)
                reader = (
                    _BoundedReader(s, csize)
                    if method == 0
                    else _DeflateReader(s, csize)
                )
                yield from self.walk(name, reader, usize)
                emitted_any = True
                reader.drain()
            else:
                # deflate + data descriptor: the inflater finds its own
                # end; leftover compressed-side bytes are pushed back for
                # the next header parse
                reader = _DeflateDescReader(s)
                first = reader.read(1)
                if is_dir or not first:
                    reader.drain()
                    _consume_descriptor(s, zip64)
                    continue
                yield from self.walk(name, _RawAdapter(reader, prefix=first), usize)
                emitted_any = True
                reader.drain()
                _consume_descriptor(s, zip64)

    def _walk_zip_spool(self, stream, prefix: bytes = b"") -> Iterator[EntryRow]:
        """Fallback zip path: spool the whole archive (memory below
        _SPOOL_MAX, disk above) and read via zipfile with its central
        directory. ``prefix`` restores bytes the streaming parser already
        consumed so central-directory offsets stay valid."""
        spool = tempfile.SpooledTemporaryFile(max_size=_SPOOL_MAX)
        try:
            if prefix:
                spool.write(prefix)
            while True:
                chunk = stream.read(_COPY_BUF)
                if not chunk:
                    break
                spool.write(chunk)
            spool.seek(0)
            try:
                zf = zipfile.ZipFile(spool)
            except (zipfile.BadZipFile, OSError, EOFError):
                return
            with zf:
                for info in zf.infolist():
                    if info.is_dir() or info.file_size == 0:
                        continue  # skip predicate (zipfile.rs:23)
                    try:
                        fobj = zf.open(info)
                    except (zipfile.BadZipFile, NotImplementedError, OSError):
                        return  # stop at first bad entry (zipfile.rs:22)
                    with fobj:
                        yield from self.walk(info.filename, fobj, info.file_size)
        finally:
            spool.close()


def walk_stream(
    source: str,
    stream,
    declared_size: int = 0,
    options: ConvertOptions | None = None,
) -> Iterator[EntryRow]:
    """Walk one top-level input stream (file object / response body)."""
    walker = Walker(source, options)
    # the root archive pushes its own frame inside walk(); nested_path
    # skips that first frame (utils.rs:49-55), so a member of the root
    # archive gets path == its member name, and a plain top-level file
    # gets path == the input path verbatim (src/batch.rs:108-111)
    yield from walker.walk(source, stream, declared_size)


def walk_path(path: str, options: ConvertOptions | None = None) -> Iterator[EntryRow]:
    """Walk one local file; ``source`` stores the given path verbatim
    (reference src/batch.rs:108)."""
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        yield from walk_stream(path, f, size, options)
