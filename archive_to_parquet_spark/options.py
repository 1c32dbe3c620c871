"""Conversion options — the engine's "query config".

Mirrors the reference's ``ConvertionOptions`` (reference src/lib.rs:26-52)
and its CLI surface (reference src/main.rs:26-85). Defaults match the
reference: threads=8 (library default; the CLI overrides to available
parallelism), include=all, unique=False, SNAPPY compression,
batch_size=100MB, extract_strings=False. The reference's
``batch_count`` (its channel depth) has no Spark counterpart; the CLI
accepts ``--batch-count`` for flag parity and ignores it.

Batch knobs map to Spark partition sizing rather than literal channel
buffers (SURVEY.md §2.7): ``threads`` → ingest scan tasks, at most one
per thread, each walking one size-balanced bin of inputs
(sources/archive_source.py); ``batch_size`` → Arrow batch budget inside
the ingest walker (sources/archive_source.py ``walk_inputs``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass

from archive_to_parquet_spark.schema import ENTRY_COLUMNS


class IncludeType(str, enum.Enum):
    """Row type filter (reference src/sink.rs:13-21)."""

    ALL = "all"
    TEXT = "text"
    BINARY = "binary"

    @classmethod
    def parse(cls, value: str) -> "IncludeType":
        try:
            return cls(value.strip().lower())
        except ValueError:
            raise ValueError(
                f"invalid include type {value!r}; expected one of "
                f"{[m.value for m in cls]}"
            ) from None


DEFAULT_BATCH_SIZE = 100 * 1024 * 1024  # 100 MB (reference src/lib.rs:47)
DEFAULT_MIN_STRING_LEN = 10  # reference src/batch.rs:115, strings.rs:12


@dataclass
class ConvertOptions:
    """Engine configuration (reference src/lib.rs:26-52)."""

    threads: int = 8
    include: IncludeType = IncludeType.ALL
    unique: bool = False
    compression: str = "snappy"
    min_size: int | None = None
    max_size: int | None = None  # EXCLUSIVE (reference src/lib.rs:55-62)
    batch_size: int = DEFAULT_BATCH_SIZE
    extract_strings: bool = False
    min_string_len: int = DEFAULT_MIN_STRING_LEN
    # Engine extensions beyond the reference surface:
    max_depth: int = 16  # recursion guard alongside the quine check (S11)
    single_file: bool = False  # coalesce(1) for byte-level output parity
    # Row-group byte budget (parquet.block.size). Spark/parquet-java caps
    # row groups by BYTES where the reference caps by 1,048,576 ROWS
    # (src/sink.rs:38); 128 MiB approximates that cap at the reference's
    # typical ~100-byte metadata rows and bounds memory per writer task.
    row_group_bytes: int = 128 * 1024 * 1024
    deterministic_dedup: bool = False  # min-(source,path) winner instead of
    # the reference's nondeterministic first-arrival winner (SURVEY §2.11.1)
    # Output projection (column pruning pushed INTO the walker). The
    # Python DataSource API cannot see the downstream plan (Spark 4.1
    # passes the full schema to reader() regardless of the query's
    # projection — verified empirically), so callers that only need
    # metadata opt in explicitly: columns=("source","path","size",
    # "hash","format") makes the walker stream-hash without ever
    # buffering entry payloads (manifest scans, hash-only dedup
    # pre-passes read a 100 TB corpus without materializing content
    # in Python, Arrow, or the JVM). None = all six columns.
    columns: tuple[str, ...] | None = None

    def wants(self, column: str) -> bool:
        return self.columns is None or column in self.columns

    def size_range(self) -> tuple[int, int]:
        """[min, max) with open ends 0 / 2^63-1 (reference src/lib.rs:54-62)."""
        lo = 0 if self.min_size is None else int(self.min_size)
        hi = (1 << 63) - 1 if self.max_size is None else int(self.max_size)
        return lo, hi

    def validate(self) -> None:
        lo, hi = self.size_range()
        if lo > hi:
            raise ValueError(f"min_size {lo} > max_size {hi}")
        if self.threads < 1:
            raise ValueError("threads must be >= 1")
        if self.max_depth < 1:
            raise ValueError("max_depth must be >= 1")
        if self.columns is not None:
            bad = [c for c in self.columns if c not in ENTRY_COLUMNS]
            if bad or not self.columns:
                raise ValueError(
                    f"columns must be a non-empty subset of {ENTRY_COLUMNS}; got "
                    f"{self.columns!r}"
                )
            if "content" not in self.columns and self.include != IncludeType.ALL:
                raise ValueError(
                    "include=text/binary filters on content; it cannot be "
                    "pruned from columns"
                )
            if "hash" not in self.columns and self.unique:
                raise ValueError(
                    "unique dedups on hash; it cannot be pruned from columns"
                )
            if "size" not in self.columns and (
                self.min_size is not None or self.max_size is not None
            ):
                raise ValueError(
                    "min/max_size filter on size; it cannot be pruned "
                    "from columns"
                )


def parse_columns(raw: str | None) -> tuple[str, ...] | None:
    """A comma-separated ``columns`` projection (CLI ``--columns``, the
    DataSource ``columns`` option); None when not given. The names are
    checked by ``ConvertOptions.validate``."""
    if not raw:
        return None
    return tuple(c.strip() for c in raw.split(",") if c.strip())
