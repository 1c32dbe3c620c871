"""The oracle comparison: a catalog entry's Spark result against its
DuckDB ``oracle_sql``.

An entry matches its oracle when the row counts are equal, the column
names are equal as sorted lists, and the order-insensitive value hashes
are equal. The hash sorts the columns by name and the rows by their
normalized text, so neither column order nor row order matters; floats
that hold an integer hash as that integer and other floats are rounded
to 9 places, so an exact ``1`` and ``1.0`` compare equal across engines.

``tools/check_correctness.py``, ``tools/preflight_vanilla.py`` and the
Tier-1 gate ``tests/test_oracle_gate.py`` all compare through this
module.
"""

from __future__ import annotations

import hashlib
import os

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_problems(
    cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]
) -> list[str]:
    """Why a Spark result differs from its oracle result; empty when
    they match."""
    problems = []
    if len(rows) != len(o_rows):
        problems.append(f"rowcount {len(rows)} != {len(o_rows)}")
    if sorted(cols) != sorted(o_cols):
        problems.append(f"cols {sorted(cols)} != {sorted(o_cols)}")
    else:
        h1, h2 = value_hash(cols, rows), value_hash(o_cols, o_rows)
        if h1 != h2:
            problems.append(f"value-hash {h1} != {h2}")
    return problems


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table present in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
