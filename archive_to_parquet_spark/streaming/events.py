"""Streaming event analytics: watermarked windowed aggregation,
session windows, and streaming dedup.

Batch twins of these live in the query catalog (rel_events_hourly,
rel_sessionize); here they run over an unbounded stream with
watermarks bounding state. Used with a file stream or any readStream
source that yields (event_id, ts, user_id, event_type, value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_event_time(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the driver data's int64-nanos ts (see queries.relational._events)
    into a proper timestamp column ``event_time``."""
    col = F.col(ts_col)
    if dict(events.dtypes)[ts_col] in ("bigint", "long"):
        # keep microsecond precision (not timestamp_seconds of the
        # floored div): interval-join boundaries must see the same
        # instant the timestamp[us] layout produces, or a pair with a
        # gap in (3600s, 3601s) flips vs the batch oracle
        col = F.expr(f"timestamp_micros({ts_col} div 1000)")
    # Parquet timestamps without isAdjustedToUTC load as TIMESTAMP_NTZ,
    # which watermarks reject; session tz is pinned to UTC so this cast
    # relabels without changing wall-clock values.
    return events.withColumn("event_time", col.cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding window counts + value sums per event_type.
    Watermark bounds state: windows older than max(event_time) −
    watermark are finalized and evicted."""
    ev = with_event_time(events)
    win = (
        F.window("event_time", window_duration, slide)
        if slide
        else F.window("event_time", window_duration)
    )
    # exact integer cents in the stateful sum: double accumulation
    # order varies with trigger boundaries and partitioning, cents
    # don't (value is 2dp-discrete)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents) / F.lit(100.0)).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_counts_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows with an inactivity gap — the native
    streaming form of the batch lag+cumsum sessionization."""
    ev = with_event_time(events)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents) / F.lit(100.0)).alias("total_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins — the streaming
    form of the reference's ``--unique`` contract (nondeterministic
    winner across racing inputs, deterministic key set). The watermark
    bounds the dedup state (keys older than it are evicted)."""
    ev = with_event_time(events)
    return ev.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER interval join: every (left,
    right) pair for the same user with right.event_time in
    [left.event_time, left.event_time + within].

    Both sides carry watermarks and the join has a two-sided time-range
    condition, so Spark bounds each side's state buffer to the interval
    + watermark — the canonical scalable stream-stream join shape
    (without the range condition state grows unboundedly). Inner join
    emits a pair as soon as both sides arrive; driven to completion over
    a bounded input it yields exactly the batch join result.
    """
    l = (
        with_event_time(left)
        .withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("event_time").alias("l_time"),
        )
    )
    r = (
        with_event_time(right)
        .withWatermark("event_time", watermark)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("event_time").alias("r_time"),
        )
    )
    return l.join(
        r,
        F.expr(
            f"l_user = r_user AND r_time >= l_time "
            f"AND r_time <= l_time + interval {within}"
        ),
    )
