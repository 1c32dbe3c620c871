"""Bucketed-table layout for co-located, exchange-free repeated joins.

At 100 TB the same big-big join (lineitem ⨝ orders on orderkey, or
entries ⨝ entries on hash) recurs across workloads; bucketing both
tables on the join key at write time makes every subsequent join
shuffle-free — the exchange is paid once at layout time instead of per
query. ``bucketed_join`` is the one place that join is planned; each
catalog entry that uses it pins its shuffle count in PLAN_PINS.json.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from archive_to_parquet_spark.plans.audit import audit_plan


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) table.

    With ``path`` the table is external at that location — use when the
    session's warehouse dir may not be writable (a session we don't
    own); bucketing metadata lives in the catalog either way, so the
    exchange-free join plan is identical."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def _input_fingerprint(*paths: str) -> list[list]:
    """Cheap content signature for staging invalidation: every file
    under each path as (relpath, size, mtime_ns). If the driver
    regenerates testdata in place, the staged layout rebuilds instead
    of serving stale buckets."""
    sig: list[list] = []
    for root_path in paths:
        for dirpath, _dirs, files in sorted(os.walk(root_path)):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                sig.append(
                    [os.path.relpath(p, root_path), st.st_size, st.st_mtime_ns]
                )
    return sig


def ensure_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    build: Callable[[], DataFrame],
    fingerprint: object,
) -> None:
    """Idempotent pay-the-shuffle-ONCE staging (VERDICT r7 ask #4).

    The point of a bucketed layout is that its write shuffle is paid at
    layout time, not per probe — but a query that drops and rewrites
    its bucketed tables on every execution re-pays it every run (the
    r7 `dedup_incremental_bucketed` spent 9.35 s/run on two table
    writes wrapping a 0.5 s probe). This helper writes the table once
    per (path, fingerprint): a marker file records the input
    fingerprint + bucket spec + schema DDL, and subsequent executions —
    including in a FRESH SparkSession, whose in-memory catalog lost the
    table — just re-register the existing parquet bucket files as an
    external bucketed table (a catalog-only operation; Spark derives
    each file's bucket id from the writer's file-name convention, so
    the exchange-free plan is identical to the freshly-written one).

    ``fingerprint`` must capture everything the staged contents depend
    on: the input files (`_input_fingerprint`) plus a recipe version
    string bumped on any change to ``build``'s logic.
    """
    marker = os.path.join(path, "_A2PS_BUCKETED_OK")
    want = json.dumps(
        {
            "fingerprint": fingerprint,
            "bucket_col": bucket_col,
            "num_buckets": num_buckets,
        },
        sort_keys=True,
    )
    if os.path.exists(marker):
        with open(marker) as fh:
            saved = json.load(fh)
        if json.dumps(saved.get("spec"), sort_keys=True) == json.dumps(
            json.loads(want), sort_keys=True
        ):
            if not spark.catalog.tableExists(table):
                cols = ", ".join(saved["ddl"])
                spark.sql(
                    f"CREATE TABLE {table} ({cols}) USING parquet "
                    f"CLUSTERED BY ({bucket_col}) "
                    f"SORTED BY ({bucket_col}) "
                    f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
                )
            return
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)
    write_bucketed(build(), table, bucket_col, num_buckets, path=path)
    ddl = [
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in spark.table(table).schema.fields
    ]
    with open(marker, "w") as fh:
        json.dump({"spec": json.loads(want), "ddl": ddl}, fh)


def ensure_parquet_snapshot(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    fingerprint: object,
) -> None:
    """Idempotent plain-parquet staging — `ensure_bucketed_table`'s
    marker contract without the bucket spec, for persisted STATE that a
    query folds deltas into (aggregate materialized views, snapshots).
    The build runs once per (path, fingerprint); later executions —
    including in a fresh session — read the existing files."""
    marker = os.path.join(path, "_A2PS_SNAPSHOT_OK")
    want = json.dumps({"fingerprint": fingerprint}, sort_keys=True)
    if os.path.exists(marker):
        with open(marker) as fh:
            saved = json.load(fh)
        if json.dumps(saved.get("spec"), sort_keys=True) == want:
            return
    shutil.rmtree(path, ignore_errors=True)
    build().write.mode("overwrite").parquet(path)
    with open(marker, "w") as fh:
        json.dump({"spec": json.loads(want)}, fh)


def bucketed_join(
    spark: SparkSession, left: str, right: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key as a
    bucket-aligned sort-merge join: each bucket of ``left`` meets the
    same bucket of ``right`` with no Exchange on either side.

    The merge hint keeps that plan at any broadcast threshold — without
    it a small side is broadcast and the layout is never exercised. A
    layout whose bucket specs stop lining up gains an Exchange, which
    the entry's ``PLAN_PINS.json`` shuffle count catches."""
    return spark.table(left).join(spark.table(right).hint("merge"), on, how)


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a SHUFFLE Exchange, counted
    as ``plans.audit.audit_plan`` counts the pin's ``shuffles`` (a
    BroadcastExchange replicates a small side without repartitioning
    rows, so it does not count)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return audit_plan(plan)["shuffle_exchanges"] > 0
