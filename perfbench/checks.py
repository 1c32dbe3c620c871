"""Correctness checks on the program's outputs, independent of its code.

Ingest output is read back with pyarrow and compared with the generator's
manifest; catalog results are compared with each entry's DuckDB oracle using
the repository's own order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from inputs import IngestInputs

_MAX_PROBLEMS = 5


def check_ingest(output_dir: str, expected: IngestInputs) -> list[str]:
    """Problems with a convert's Parquet output (empty when correct).

    Each hash that survives the size filter and the dedup must appear
    exactly once, on one of the rows that carried it. Every row's content
    must hash to its ``hash`` and have length ``size``.
    """
    import pyarrow.parquet as pq

    table = pq.read_table(output_dir)
    rows = list(zip(
        table.column("source").to_pylist(),
        table.column("path").to_pylist(),
        table.column("size").to_pylist(),
        (h.hex() for h in table.column("hash").to_pylist()),
    ))
    problems: list[str] = []
    survivors = expected.survivors()
    seen = Counter(r[3] for r in rows)
    for source, path, size, sha in rows:
        if (source, path, size) not in survivors.get(sha, ()):
            problems.append(f"unexpected row {path!r} in {source} ({sha[:12]})")
    problems += [f"hash {sha[:12]} appears {n} times" for sha, n in seen.items() if n > 1]
    problems += [f"missing hash {sha[:12]}" for sha in survivors.keys() - seen.keys()]
    for (source, path, size, sha), content in zip(rows, table.column("content").to_pylist()):
        if len(content) != size or hashlib.sha256(content).hexdigest() != sha:
            problems.append(f"content of {path!r} in {source} does not match its size/hash")
    return problems[:_MAX_PROBLEMS]


def oracle_problem(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """Compare one catalog result with its oracle: row count, column names
    and the order-insensitive value hash of ``tools/check_correctness``."""
    from tools.check_correctness import value_hash

    if len(spark_rows) != len(oracle_rows):
        return f"row count {len(spark_rows)} != oracle {len(oracle_rows)}"
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != oracle {sorted(oracle_cols)}"
    h1, h2 = value_hash(spark_cols, spark_rows), value_hash(oracle_cols, oracle_rows)
    if h1 != h2:
        return f"value hash {h1} != oracle {h2}"
    return None


def duckdb_oracle(sf_dir: str):
    """A DuckDB connection with one view per table in ``sf_dir``."""
    import os

    import duckdb

    from tools.check_correctness import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
