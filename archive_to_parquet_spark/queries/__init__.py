"""Query catalog: the engine's declared operator surface, by family.

Every entry pairs an idiomatic-Spark DataFrame query with an ANSI-SQL
oracle that DuckDB runs over the same parquet tables; the oracle gate
(``archive_to_parquet_spark.oracle``, run per entry by
``tests/test_oracle_gate.py``) compares row counts, schemas, and
order-insensitive value hashes. Naming rule: every computed column is
aliased identically on both sides. Floats are rounded on BOTH sides
before comparison (sums to 2dp, ratios and cosines to 6dp) because
Spark and DuckDB may accumulate doubles in different orders.

Each family module exports ``ENTRIES: name → (fn, oracle SQL)``; this
module is the one registration point. The family of an entry is the
name of the module that registers it. Families import only from the
ones listed before them in ``_FAMILIES``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from archive_to_parquet_spark.queries import (
    dedup,
    graph,
    maintenance,
    multimodal,
    parity,
    relational,
    similarity,
    streaming,
    text,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_FAMILIES = (
    relational,
    parity,
    text,
    dedup,
    similarity,
    multimodal,
    graph,
    maintenance,
    streaming,
)


def _register(
    modules: Iterable[ModuleType],
) -> dict[str, tuple[QueryFn, str, str]]:
    """``name → (fn, oracle SQL, family)`` from each module's
    ``ENTRIES``; a name registered twice raises."""
    catalog: dict[str, tuple[QueryFn, str, str]] = {}
    for module in modules:
        fam = module.__name__.rsplit(".", 1)[-1]
        for name, (fn, sql) in module.ENTRIES.items():
            if name in catalog:
                raise ValueError(
                    f"catalog entry {name!r} is registered by both "
                    f"{catalog[name][2]} and {fam}"
                )
            catalog[name] = (fn, sql, fam)
    return catalog


_CATALOG = _register(_FAMILIES)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql, _fam) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql, _fam) in _CATALOG.items()}


def family(name: str) -> str:
    """The family (module name) that registers catalog entry ``name``."""
    return _CATALOG[name][2]
