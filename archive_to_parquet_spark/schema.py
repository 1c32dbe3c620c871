"""Canonical output schema of the engine.

Mirrors the reference's static Arrow schema (reference src/batch.rs:21-34):
``(source: utf8, path: utf8, size: u64, hash: fixed_size_binary(32),
content: large_binary)``, all NOT NULL — with two deliberate mappings:

- ``size`` is Spark ``LongType`` (Spark has no unsigned 64-bit type; file
  sizes are far below 2^63, documented narrowing — SURVEY.md §1.1).
- ``hash`` is ``BinaryType`` with a by-construction length-32 invariant
  (Spark has no fixed-size binary).

We additionally persist ``format`` (the reference's derived ``FormatKind``,
reference src/anyreader/format.rs:87-107) because it is cheap and strictly
more queryable; the strict 5-column reference layout is a ``select`` away.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

HASH_SIZE = 32  # SHA-256 output length (reference src/hasher.rs:3)

# FormatKind enum (reference src/anyreader/format.rs:87-107).
FORMAT_KINDS = (
    "gzip",
    "zstd",
    "bzip2",
    "xz",
    "zip",
    "tar",
    "executable",
    "unknown",
)

# The canonical entries table (reference src/batch.rs:21-34 + format):
# name, Spark type, and the Arrow type the walker's batches carry (the
# scan hands Arrow batches straight to the JVM through mapInArrow).
_ENTRY_FIELDS = (
    ("source", T.StringType(), pa.string()),
    ("path", T.StringType(), pa.string()),
    ("size", T.LongType(), pa.int64()),
    ("hash", T.BinaryType(), pa.binary()),
    ("content", T.BinaryType(), pa.binary()),
    ("format", T.StringType(), pa.string()),
)
ENTRY_COLUMNS = tuple(name for name, _, _ in _ENTRY_FIELDS)


def _fields(columns: tuple[str, ...] | None) -> list[tuple]:
    # canonical column order however the subset was spelled; None = all
    return [f for f in _ENTRY_FIELDS if columns is None or f[0] in columns]


def entry_struct(columns: tuple[str, ...] | None = None) -> T.StructType:
    """Spark schema of the projected entries."""
    return T.StructType(
        [T.StructField(name, dt, nullable=False) for name, dt, _ in _fields(columns)]
    )


def entry_ddl(columns: tuple[str, ...] | None = None) -> str:
    """DDL string of the projected entries (a ``mapInArrow`` schema)."""
    return ", ".join(f"{name} {dt.simpleString()}" for name, dt, _ in _fields(columns))


def entry_arrow_schema(columns: tuple[str, ...] | None = None) -> pa.Schema:
    """Arrow schema of the projected entries (the walker's batches)."""
    return pa.schema([(name, at) for name, _, at in _fields(columns)])


ENTRY_SCHEMA = entry_struct()

# The byte-compatible reference projection (no format column).
REFERENCE_COLUMNS = ("source", "path", "size", "hash", "content")
