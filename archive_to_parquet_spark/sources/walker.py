"""Recursive archive walker — the engine's custom scan (S5–S11).

Pure-Python streaming walk of (possibly compressed, possibly nested)
archives, emitting one row per extracted file with a fused streaming
SHA-256. This is the only genuinely non-relational component; it runs
inside ``mapInArrow`` on executors (see ``archive_source.py``), one
size-balanced bin of input archives per task, so the cluster
parallelizes across inputs and everything downstream is stock
DataFrame ops.

Every stream the walk reads (the input, each decoder, each archive
member) is read through one ``_Reader``, the reference's one peekable
reader under the decoder and the archive reader
(src/anyreader/compression.rs:8-32): the sniff pushes its peeks back
into it, the member walks and the content copy read it directly, and
it is the one place where a decoder or container error ends a stream.

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

# content-copy chunk size (the hash loop, skips, the zip spool and the
# deflate member's compressed reads). The reference copies in 8 KiB
# chunks (src/batch.rs:42) — cheap in Rust, but each chunk here is a
# Python-level loop turn, so larger chunks win: measured 257 → 368 MB/s
# single-thread tar walk moving 8 KiB → 64 KiB (256 KiB adds ~1%, not
# worth the extra buffer memory per concurrent walk task).
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


def _wrap_decoder(stream: _Reader, kind: str):
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
    in ``_TRUNCATED``, the reader's truncation catch list: genuinely bad
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


# Decoder and container errors that end an entry as truncated content,
# the reference's infallable_copy contract (src/batch.rs:41-59). zipfile
# raises BadZipFile on a CRC mismatch while reading a member; zstd
# errors are absent on purpose, so corrupt zstd fails the walk loudly.
_TRUNCATED = (
    OSError,
    EOFError,
    zlib.error,
    lzma.LZMAError,
    zipfile.BadZipFile,
    tarfile.ReadError,
)


# The reader reads its inner stream in blocks of 8 KiB, the reference's
# copy size (src/batch.rs:42). A buffered decoder drops the output of a
# read that meets an error, so a stream that ends in error keeps every
# whole block decoded before it.
_BLOCK = 8 * 1024


class _Reader:
    """The one reader under the walker. The sniff, every member walk
    and the content copy read a file, a decoder or an archive member
    through one of these.

    ``read(n)`` returns n bytes unless the stream ends, so a short-read
    inner stream (an HTTP body, a decoder) cannot cut a peek short.
    ``push`` un-reads bytes (the sniff peeks, a zip header before the
    spool fallback), ``skip`` discards them and ``readline_lf`` splits
    LF lines for the WARC header parse. An error in ``_TRUNCATED`` ends
    the inner stream: what was read before it stands, as the
    reference's ``infallable_copy`` keeps the bytes copied so far
    (src/batch.rs:41-59)."""

    __slots__ = ("_inner", "_buf")

    def __init__(self, inner):
        self._inner = inner
        self._buf = b""

    def _pull(self) -> bytes:
        if self._inner is None:
            return b""
        try:
            return self._inner.read(_BLOCK)
        except _TRUNCATED:
            self._inner = None
            return b""

    def read(self, n: int) -> bytes:
        buf = self._buf
        if n > len(buf):
            parts = [buf]
            got = len(buf)
            while got < n:
                block = self._pull()
                if not block:
                    break
                parts.append(block)
                got += len(block)
            buf = b"".join(parts)
        n = max(n, 0)
        self._buf = buf[n:]
        return buf[:n]

    def push(self, data: bytes) -> None:
        self._buf = data + self._buf

    def skip(self, n: int) -> bool:
        """Discard n bytes; False if the stream ends first."""
        while n > 0:
            data = self.read(min(n, _COPY_BUF))
            if not data:
                return False
            n -= len(data)
        return True

    def readline_lf(self, limit: int = 64 * 1024) -> bytes | None:
        """One LF-terminated line (terminator included). At the end of
        the stream a partial line is returned as-is; the end at a line
        start → None; a line longer than ``limit`` → None (malformed
        input)."""
        parts: list[bytes] = []
        size = 0
        while size <= limit:
            nl = self._buf.find(b"\n")
            if nl >= 0:
                parts.append(self._buf[: nl + 1])
                self._buf = self._buf[nl + 1 :]
                line = b"".join(parts)
                return line if len(line) <= limit else None
            parts.append(self._buf)
            size += len(self._buf)
            self._buf = self._pull()
            if not self._buf:
                return b"".join(parts) or None
        return None


class _Bounded:
    """The next ``size`` bytes of ``s``: a plain tar member, a stored
    zip member, an ar or cpio body, or a byte range of a file."""

    __slots__ = ("_s", "_left")

    def __init__(self, s, size: int):
        self._s = s
        self._left = size

    def read(self, n: int) -> bytes:
        n = min(n, self._left)
        if n <= 0:
            return b""
        data = self._s.read(n)
        self._left -= len(data)
        return data

    def drain(self) -> None:
        """Skip what is left of the range (``s`` is a ``_Reader``)."""
        self._s.skip(self._left)
        self._left = 0


def sniff_stream(stream) -> tuple[str, _Reader]:
    """Two-stage sniff. Returns (format_kind, reader positioned at the
    logical start of the decompressed data).

    The 6-byte compression peek and the 262-byte container peek are
    pushed back into the reader they were read from, so the walk that
    follows reads the same reader; a ``_Reader`` argument is reused."""
    reader = stream if isinstance(stream, _Reader) else _Reader(stream)
    head = reader.read(6)
    reader.push(head)
    compression = detect_compression(head)
    if compression is not None:
        reader = _Reader(_wrap_decoder(reader, compression))
    peek = reader.read(PEEK_SIZE)
    reader.push(peek)
    return detect_format(peek, compression), reader


def _hashed_read(stream, keep: bool) -> tuple[bytes, bytes, int]:
    """Read to the end with a fused SHA-256. Returns (content, digest,
    size); with ``keep`` false only the first PEEK_SIZE bytes are kept
    for format refinement, so a column-pruned walk (``options.columns``
    without ``content``) never holds more of an entry than one
    ``_COPY_BUF`` chunk."""
    hasher = hashlib.sha256()
    kept: list[bytes] = []
    size = 0
    while chunk := stream.read(_COPY_BUF):
        hasher.update(chunk)
        if keep or not size:
            kept.append(chunk if keep else chunk[:PEEK_SIZE])
        size += len(chunk)
    return b"".join(kept), hasher.digest(), size


# -- WARC record machinery -----------------------------------------------------


def _read_mime_headers(stream: _Reader) -> dict[str, str] | None:
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


def _consume_descriptor(s: _Reader, zip64: bool) -> None:
    """Consume a data descriptor: optional PK\\x07\\x08 signature, then
    crc + compressed size + uncompressed size (8-byte sizes if zip64)."""
    body_len = 16 if zip64 else 12
    head = s.read(4)
    if head == b"PK\x07\x08":
        s.read(body_len)
    else:
        s.read(body_len - 4)


class _Inflate:
    """A deflate zip member: raw inflate of ``s``, ``csize`` compressed
    bytes of it or, without ``csize`` (a data-descriptor member), up to
    the deflate stream's own end, with the bytes read past that end
    pushed back into ``s`` for the next header parse. A descriptor
    member is drained through the ``_Reader`` over it, which stops at a
    corrupt stream.

    Compressed bytes are read in ``_COPY_BUF`` chunks, and a chunk is
    inflated only once the previous one's output is all read, so a
    ``zlib.error`` reaches the ``_Reader`` above with no inflated byte
    lost."""

    __slots__ = ("_s", "_src", "_z", "_out", "_pos")

    def __init__(self, s: _Reader, csize: int | None = None):
        self._s = s
        self._src = s if csize is None else _Bounded(s, csize)
        self._z = zlib.decompressobj(-15)
        self._out = b""
        self._pos = 0

    def read(self, n: int) -> bytes:
        while self._pos >= len(self._out) and not self._z.eof:
            chunk = self._src.read(_COPY_BUF)
            if not chunk:
                break
            self._out, self._pos = self._z.decompress(chunk), 0
            if self._z.eof and self._src is self._s:
                self._s.push(self._z.unused_data)
        out = self._out[self._pos : self._pos + n]
        self._pos += len(out)
        return out

    def drain(self) -> None:
        """Skip the rest of the ``csize`` compressed bytes."""
        self._src.drain()


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

    def _leaf(self, name: str, decoded: _Reader, kind: str) -> Iterator[EntryRow]:
        opts = self.options
        want_content = opts.wants("content")
        # extract_strings rewrites executable payloads, so hash/size
        # depend on the full bytes even when content is pruned
        content, digest, size = _hashed_read(
            decoded, keep=want_content or opts.extract_strings
        )
        fmt = kind if kind != "unknown" else detect_format(content[:PEEK_SIZE], None)
        if opts.extract_strings and fmt == "executable":
            content = joined_ascii_strings(content, opts.min_string_len)
            digest = hashlib.sha256(content).digest()
            size = len(content)
        row = EntryRow(
            source=self.source,
            path=self._nested_path(name),
            size=size,
            hash=digest,
            content=content if want_content else None,
            format=fmt,
        )
        out = self.visit_file_entry(row)
        if out is not None:
            yield out

    def _walk_tar(self, stream: _Reader) -> Iterator[EntryRow]:
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
                # a plain member is read straight off the tar stream, so
                # a cut stream ends it short where extractfile's reader
                # would raise and drop its last read
                body = (
                    tf.extractfile(member)
                    if member.issparse()
                    else _Bounded(tf.fileobj, member.size)
                )
                yield from self.walk(member.name, body, member.size)
        finally:
            try:
                tf.close()
            except Exception:
                pass

    def _walk_ar(self, stream: _Reader) -> Iterator[EntryRow]:
        """Streaming Unix ar(1) walk (deb packages, static libraries) —
        beyond-reference format. Fixed 60-byte headers after the
        ``!<arch>\\n`` global magic; data padded to even offsets. GNU
        long names resolve through the ``//`` extension table, BSD
        ``#1/N`` names are read from the data prefix; the ``/`` symbol
        table is skipped. Stops silently at the first malformed header
        (tar stop-at-first-bad-entry contract)."""
        if stream.read(8) != b"!<arch>\n":
            return
        gnu_names: dict[int, str] = {}
        while True:
            hdr = stream.read(60)
            if len(hdr) < 60 or hdr[58:60] != b"\x60\n":
                return
            try:
                raw_name = hdr[0:16].decode("ascii").rstrip()
                size = int(hdr[48:58].decode("ascii").strip() or "0")
            except (UnicodeDecodeError, ValueError):
                return
            pad = size % 2
            if raw_name == "//":  # GNU extended-name table
                table = stream.read(size)
                stream.skip(pad)
                off = 0
                for line in table.split(b"\n"):
                    entry = line.decode("ascii", "replace").rstrip("/\r")
                    if entry:
                        gnu_names[off] = entry
                    off += len(line) + 1
                continue
            if raw_name == "/":  # symbol table
                stream.skip(size)
                stream.skip(pad)
                continue
            name = raw_name
            body = _Bounded(stream, size)
            if raw_name.startswith("#1/"):  # BSD embedded long name
                try:
                    nlen = int(raw_name[3:])
                except ValueError:
                    return
                name = (
                    body.read(nlen).decode("utf-8", "replace").rstrip("\x00")
                )
            elif raw_name.startswith("/") and raw_name[1:].isdigit():
                name = gnu_names.get(int(raw_name[1:]), raw_name)
            elif raw_name.endswith("/"):  # GNU short-name terminator
                name = raw_name[:-1]
            if size > 0:
                yield from self.walk(name, body, size)
            body.drain()
            stream.skip(pad)

    def _walk_cpio(self, stream: _Reader) -> Iterator[EntryRow]:
        """Streaming cpio walk, newc/crc variants (``070701``/``070702``
        — initramfs, kernel archives) — beyond-reference format.
        110-char ASCII-hex headers; name and data each padded to 4-byte
        boundaries; ``TRAILER!!!`` ends the stream. Non-regular and
        empty members are skipped (tar skip-predicate parity); a
        malformed header stops the walk silently."""
        while True:
            hdr = stream.read(110)
            if len(hdr) < 110 or hdr[:6] not in (b"070701", b"070702"):
                return
            try:
                fields = [
                    int(hdr[6 + i * 8 : 14 + i * 8], 16) for i in range(13)
                ]
            except ValueError:
                return
            mode, filesize, namesize = fields[1], fields[6], fields[11]
            raw_name = stream.read(namesize)
            stream.skip((-(110 + namesize)) % 4)
            name = raw_name.decode("utf-8", "replace").rstrip("\x00")
            if name == "TRAILER!!!":
                return
            body = _Bounded(stream, filesize)
            is_regular = (mode & 0o170000) == 0o100000
            if is_regular and filesize > 0:
                yield from self.walk(name, body, filesize)
            body.drain()
            stream.skip((-filesize) % 4)

    def _walk_warc(self, stream: _Reader) -> Iterator[EntryRow]:
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
            payload = stream.read(length)
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

    def _walk_zip(self, s: _Reader) -> Iterator[EntryRow]:
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
                # restore the header so central-directory offsets hold
                s.push(sig + hdr + raw_name + extra)
                yield from self._walk_zip_spool(s)
                return
            is_dir = name.endswith("/")
            if not has_desc:
                if is_dir or usize == 0:
                    if not s.skip(csize):
                        return
                    continue  # skip predicate (zipfile.rs:23)
                body = _Bounded(s, csize) if method == 0 else _Inflate(s, csize)
                yield from self.walk(name, body, usize)
                emitted_any = True
                body.drain()
            else:
                # deflate + data descriptor: the inflater finds its own
                # end and pushes the bytes it read past it back into s
                member = _Reader(_Inflate(s))
                first = member.read(1)
                member.push(first)
                if first and not is_dir:
                    yield from self.walk(name, member, usize)
                    emitted_any = True
                while member.read(_COPY_BUF):
                    pass  # to the deflate end, or where it is corrupt
                _consume_descriptor(s, zip64)

    def _walk_zip_spool(self, stream: _Reader) -> Iterator[EntryRow]:
        """Fallback zip path: spool the whole archive (memory below
        _SPOOL_MAX, disk above) and read via zipfile with its central
        directory."""
        spool = tempfile.SpooledTemporaryFile(max_size=_SPOOL_MAX)
        try:
            while chunk := stream.read(_COPY_BUF):
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
