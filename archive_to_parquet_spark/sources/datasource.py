"""Spark 4 Python DataSource for archives: ``spark.read.format("archive")``.

The DataSource API gives the walker real partition planning — one
``InputPartition`` per top-level archive — so Spark's scheduler sees
inputs as first-class partitions (locality, retries, event-log metrics)
instead of rows fed through mapInPandas. Batches are yielded as Arrow
RecordBatches, keeping the transfer path vectorized.

Usage::

    from archive_to_parquet_spark.sources.datasource import register
    register(spark)
    df = (spark.read.format("archive")
          .option("paths", "a.tar,b.tar.gz")   # or a glob via "glob"
          .load())

Options: ``paths`` (comma-separated), ``glob`` (shell glob), ``urls``
("true" → paths are http(s) URLs), ``extract_strings``, ``max_depth``,
``columns`` (comma-separated projection — excluding ``content`` makes
the walker stream-hash without ever buffering entry payloads; the
Python DataSource API cannot see the query's projection, so pruning is
an explicit option, not automatic). Each partition is one
``walk_inputs`` call, so its Arrow batches carry the same dual cap as
``read_archives`` (1024 rows or ``batch_size`` content bytes).

``format("archive-stream")`` reads ``glob`` only and honours the same
``extract_strings``, ``max_depth`` and ``columns`` options, through the
same ``_convert_options``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from archive_to_parquet_spark.options import ConvertOptions, parse_columns
from archive_to_parquet_spark.schema import ENTRY_COLUMNS, entry_struct


def _convert_options(options: dict) -> ConvertOptions:
    """The ``archive`` and ``archive-stream`` formats' options as a
    validated ConvertOptions."""
    out = ConvertOptions(
        extract_strings=str(options.get("extract_strings", "false")).lower()
        == "true",
        max_depth=int(options.get("max_depth", 16)),
        columns=parse_columns(options.get("columns")),
    )
    out.validate()
    return out


class ArchivePartition(InputPartition):
    def __init__(self, path: str, is_url: bool):
        self.path = path
        self.is_url = is_url


class ArchiveDataSource(DataSource):
    """``format("archive")`` — recursive archive extraction source."""

    @classmethod
    def name(cls) -> str:
        return "archive"

    def schema(self):
        return entry_struct(_convert_options(self.options).columns)

    def reader(self, schema) -> "ArchiveReader":
        return ArchiveReader(self.options)


class ArchiveReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def _paths(self) -> list[str]:
        paths: list[str] = []
        if self.options.get("paths"):
            paths += [p for p in self.options["paths"].split(",") if p]
        if self.options.get("glob"):
            import glob as globmod

            paths += sorted(globmod.glob(self.options["glob"]))
        if not paths:
            raise ValueError(
                "archive source needs option 'paths' (comma-separated) or 'glob'"
            )
        return paths

    def partitions(self) -> list[ArchivePartition]:
        is_url = str(self.options.get("urls", "false")).lower() == "true"
        return [ArchivePartition(p, is_url) for p in self._paths()]

    def read(self, partition: ArchivePartition) -> Iterator:
        from archive_to_parquet_spark.sources.archive_source import walk_inputs

        yield from walk_inputs(
            [(partition.path, partition.is_url)], _convert_options(self.options)
        )


try:  # streaming reader API (Spark 4)
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
except ImportError:  # pragma: no cover
    SimpleDataSourceStreamReader = object  # type: ignore


def _is_growable(path: str) -> bool:
    """Append-only record formats whose byte TAIL is itself a valid
    stream: per-record-gzip ``.warc.gz`` (the Common Crawl layout —
    each record is a complete gzip member, so decode can start at any
    member boundary) and uncompressed ``.warc`` (records start at
    ``WARC/`` version lines). tar/zip cannot be tail-walked — a grown
    one is NOT re-read (its first-seen prefix was already emitted)."""
    return path.endswith((".warc.gz", ".warc"))


class ArchiveStreamReader(SimpleDataSourceStreamReader):
    """Streaming variant: each micro-batch walks archives that appeared
    under the glob since the last committed offset — plus, for
    append-only record formats (``.warc.gz`` / ``.warc``), the byte
    tail appended to files already seen (continuous crawl ingestion:
    a crawler appending per-record gzip members to an open segment).

    The offset maps each processed path to the byte size walked so far
    (JSON dict) — simple and replayable: a restart from a checkpoint
    re-lists the directory and walks only bytes beyond each recorded
    size, giving exactly-once rows with an idempotent sink. (Legacy
    list-shaped offsets are read as 'whole file processed'.)
    """

    def __init__(self, options: dict):
        self.options = options
        if not options.get("glob"):
            raise ValueError("archive-stream needs option 'glob'")
        self.convert = _convert_options(options)

    def initialOffset(self) -> dict:
        return {"processed": {}}

    @staticmethod
    def _seen(offset: dict) -> dict[str, int]:
        processed = offset.get("processed", {})
        if isinstance(processed, list):  # legacy whole-file offsets
            return {p: -1 for p in processed}
        return dict(processed)

    def _walk_range(self, path: str, start_b: int, end_b: int):
        from archive_to_parquet_spark.sources.walker import _Bounded, walk_stream

        # the byte range pins a micro-batch to the size recorded in its
        # offset even if the file keeps growing while we read
        # (exactly-once replay needs the range, not 'to EOF')
        names = [c for c in ENTRY_COLUMNS if self.convert.wants(c)]
        with open(path, "rb") as fh:
            fh.seek(start_b)
            tail = _Bounded(fh, end_b - start_b)
            for r in walk_stream(path, tail, end_b - start_b, self.convert):
                yield tuple(getattr(r, c) for c in names)

    def read(self, start: dict):
        import glob as globmod
        import os

        seen = self._seen(start)
        files = sorted(globmod.glob(self.options["glob"]))
        end_sizes = dict(seen)
        work: list[tuple[str, int, int]] = []  # (path, from_byte, to_byte)
        for f in files:
            size = os.path.getsize(f)
            prev = seen.get(f)
            if prev is None:
                work.append((f, 0, size))
                end_sizes[f] = size
            elif 0 <= prev < size and _is_growable(f):
                work.append((f, prev, size))
                end_sizes[f] = size
        end = {"processed": end_sizes}

        # materialized list, not a generator: the simple-stream API
        # prefetches on the driver and caches the batch for replay
        # (generators aren't picklable). Fine for the intended use —
        # per-trigger batches of newly arrived files/records.
        rows = [
            row
            for f, s, e in work
            for row in self._walk_range(f, s, e)
        ]
        # the prefetcher requires a PICKLABLE ITERATOR: a generator
        # fails pickling, a bare list fails the iterator check —
        # a list_iterator satisfies both
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        import glob as globmod
        import os

        before = self._seen(start)
        after = self._seen(end)
        present = set(globmod.glob(self.options["glob"]))
        for f in sorted(after):
            if f not in present:
                continue
            prev = before.get(f, 0)
            if prev < 0:
                # fully processed under a legacy whole-file offset —
                # check BEFORE expanding a legacy end offset, or a file
                # carried as -1 in both start and end would be re-walked
                # in full on batch replay (duplicate rows after restart
                # from a pre-upgrade checkpoint)
                continue
            to = after[f]
            if to < 0:  # legacy offset: whole file
                prev, to = 0, os.path.getsize(f)
            if prev < to:
                yield from self._walk_range(f, prev, to)

    def commit(self, end: dict) -> None:
        pass  # offsets carry full state; nothing external to clean up


class ArchiveStreamDataSource(DataSource):
    """``format("archive-stream")`` — streaming recursive extraction."""

    @classmethod
    def name(cls) -> str:
        return "archive-stream"

    def schema(self):
        return entry_struct(_convert_options(self.options).columns)

    def simpleStreamReader(self, schema) -> "ArchiveStreamReader":
        return ArchiveStreamReader(self.options)


def register(spark) -> None:
    """Register the 'archive' and 'archive-stream' formats (idempotent)."""
    from archive_to_parquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    spark.dataSource.register(ArchiveDataSource)
    spark.dataSource.register(ArchiveStreamDataSource)
