"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` is compared
against the matching ``oracle_sql()[name]`` in DuckDB (row count +
schema + order-insensitive value hash, ``archive_to_parquet_spark.oracle``)
by ``tests/test_oracle_gate.py`` and ``tools/check_correctness.py``.

The actual catalog lives in the ``archive_to_parquet_spark/queries/``
package: one module per family, registered in its ``__init__.py``.

``_wrap`` pins, on a session this package did not build, the confs
that can change query RESULTS — timezone, ANSI mode, parquet NTZ
inference — to the values the repo's own sessions use, so that session
computes the same values the oracle runs computed. The prior values are
snapshotted on first pin and restored at interpreter exit (atexit), so
a host that keeps using the session gets its own conf state back; until
then the pins must stay in force because the caller executes the
returned DataFrames after ``_wrap`` returns.

Performance confs are left as the host set them. In particular the
codegen cache (``spark.sql.codegen.cache.maxEntries``, which
``session.get_spark`` sizes to the catalog's working set) is a static
conf fixed once per JVM: a host session keeps its own size, and at
Spark's default of 100 a repeated pass over the catalog recompiles its
generated classes.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from archive_to_parquet_spark import queries as _catalog  # noqa: E402
from archive_to_parquet_spark.queries.parity import flagship  # noqa: E402
from archive_to_parquet_spark.session import ensure_package_shipped  # noqa: E402

# Confs that change query *values* (not just performance), pinned to
# what the repo's get_spark()/oracle comparisons assume.
_RESULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}

# prior conf values of the first session we pinned, for atexit restore
_PRIOR_CONFS: dict[str, str | None] = {}
_PINNED_SESSION: list[SparkSession] = []


def _restore_result_confs() -> None:
    """atexit: hand the (externally-owned) session its conf state back —
    ANSI mode in particular changes error behavior, not just values."""
    if not _PINNED_SESSION:
        return
    spark = _PINNED_SESSION[0]
    try:
        if spark.sparkContext._jsc is None:  # session already stopped
            return
    except Exception:  # noqa: BLE001
        return
    for k, prior in _PRIOR_CONFS.items():
        try:
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)
        except Exception:  # noqa: BLE001 — non-settable conf
            pass


def _pin_result_confs(spark: SparkSession) -> None:
    first_pin = not _PINNED_SESSION
    for k, v in _RESULT_CONFS.items():
        try:
            prior = spark.conf.get(k, None)
            if first_pin:
                _PRIOR_CONFS[k] = prior
            if prior != v:
                spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-settable conf on this session
            pass
    if first_pin:
        import atexit

        _PINNED_SESSION.append(spark)
        atexit.register(_restore_result_confs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reference dataflow (project+hash → filter → dedup →
    per-source counters) over sf0.001 documents."""
    ensure_package_shipped(spark)
    _pin_result_confs(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the driver's session isn't ours — make the package importable
        # on its executor workers before any pandas_udf/mapInPandas runs
        ensure_package_shipped(spark)
        _pin_result_confs(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _catalog.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _catalog.oracle_sql()
