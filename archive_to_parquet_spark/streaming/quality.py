"""Streaming data-quality constraint monitoring.

The batch constraint suite (``queries.maintenance.audit_constraint_suite``)
works because every constraint metric is an ALGEBRAIC aggregate; this
module runs the same idea under Structured Streaming: each micro-batch
folds to a one-row partial (counts only), the partial is written to a
state directory keyed by batch_id (a replayed batch OVERWRITES its own
partial instead of double-counting — idempotence by layout, the
``stream_neardup_incremental`` precedent), and the report merges the
partials by summation, which equals the batch computation over all
arrived rows regardless of batch boundaries.

Reference contract: K4's post-write stats (src/lib.rs counters) under
continuous arrival; the Deequ incremental-metrics design (Schelter et
al., VLDB 2018 §3.3) is the published form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.profiling import (
    psi_bin_counts,
    psi_report_from_counts,
)

# (constraint_name, partial-count column, threshold) — metric is
# count/n; thresholds chosen so the value-bounds check genuinely fails
# at sf ≥ 0.01 (~0.2% of event values exceed 300)
EVENT_CHECKS: tuple[tuple[str, str, float], ...] = (
    ("completeness_props", "n_props_ok", 1.0),
    ("set_event_type", "n_type_ok", 1.0),
    ("bounds_value_0_300", "n_value_ok", 0.998),
    ("unique_event_id", "n_id", 1.0),
)

_EVENT_TYPES = ("click", "view", "signup", "purchase", "error")


def batch_partials(batch: DataFrame) -> DataFrame:
    """One-row algebraic partial for a micro-batch of events."""

    def n_if(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    return batch.agg(
        F.count("*").alias("n"),
        n_if(F.col("props").isNotNull()).alias("n_props_ok"),
        n_if(F.col("event_type").isin(*_EVENT_TYPES)).alias("n_type_ok"),
        n_if(F.col("value").between(0.0, 300.0)).alias("n_value_ok"),
        # uniqueness partial: per-batch distinct ids; batches are
        # id-disjoint slices, so the partials SUM to the global
        # distinct count (asserted against n at merge time)
        F.countDistinct("event_id").alias("n_id"),
    )


def write_batch_partial(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """foreachBatch sink: the batch's one-row partial lands in its OWN
    subdirectory, mode overwrite — a failure-replayed micro-batch
    rewrites the same path and cannot double-count."""
    batch_partials(batch).write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )


def constraint_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge the per-batch partials into the constraint report — pure
    summation, so the report is batch-boundary invariant."""
    partials = spark.read.parquet(state_dir)  # batch=N partition discovery
    merged = partials.agg(
        F.sum("n").alias("n"),
        *[F.sum(col).alias(col) for _, col, _ in EVENT_CHECKS],
    )
    stack = F.expr(
        "stack({n}, {args}) AS (constraint_name, metric, threshold)".format(
            n=len(EVENT_CHECKS),
            args=", ".join(
                f"'{name}', round({col} / CAST(n AS DOUBLE), 6), "
                f"CAST({thr} AS DOUBLE)"
                for name, col, thr in EVENT_CHECKS
            ),
        )
    )
    return merged.select(stack).select(
        "constraint_name",
        "metric",
        "threshold",
        F.when(F.col("metric") >= F.col("threshold"), "pass")
        .otherwise("fail")
        .alias("status"),
    )


# -- PSI drift monitor under continuous arrival (round 9) -------------------


def write_psi_partial(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """foreachBatch sink: the batch's ≤10-row per-bin partial lands in
    its OWN subdirectory, mode overwrite — a failure-replayed
    micro-batch rewrites the same path and cannot double-count. The
    partial is the batch entry's ``psi_bin_counts``, so the streaming
    fold cannot drift from the certified batch binning."""
    psi_bin_counts(batch).write.mode("overwrite").parquet(
        os.path.join(state_dir, f"batch={batch_id}")
    )


def psi_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge the per-batch per-bin partials by summation — counts are
    algebraic, so merge(partials) == one-pass counts over all arrived
    rows regardless of batch boundaries — then compute the identical
    PSI report the batch entry emits."""
    partials = spark.read.parquet(state_dir)  # batch=N partition discovery
    counts = (
        partials.groupBy("bin")
        .agg(F.sum("ref_n").alias("ref_n"), F.sum("cur_n").alias("cur_n"))
        .localCheckpoint()
    )
    return psi_report_from_counts(spark, counts)
