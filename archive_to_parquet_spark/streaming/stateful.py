"""Custom stateful streaming operator: per-key running aggregates via
``applyInPandasWithState``.

Demonstrates the arbitrary-state API for operators the built-in
windows can't express — here a per-user lifetime counter with
min/max/total value that emits an updated row per key per micro-batch.
State lives in the state store (checkpointed, fault-tolerant), keyed by
user, with optional processing-time timeout to expire idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmin", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)


def _update_user_state(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total_c, vmin, vmax = state.get
    else:
        n, total_c, vmin, vmax = 0, 0.0, float("inf"), float("-inf")
    for pdf in pdfs:
        values = pdf["value"].astype(float)
        n += len(values)
        # accumulate exact integer cents (value is 2dp-discrete): a
        # float running total depends on batch/arrival order, cents
        # don't. The state field stays double — integer cents are exact
        # in a double far past any realistic total.
        total_c += float((values * 100).round().sum())
        if len(values):
            vmin = min(vmin, float(values.min()))
            vmax = max(vmax, float(values.max()))
    state.update((n, total_c, vmin, vmax))
    # a group invoked with only empty batches (or a future
    # timeout-triggered call) has n == 0 — emit null min/max rather than
    # leaking the ±inf accumulator sentinels into the sink
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total_c / 100.0],
            "min_value": [vmin if n else None],
            "max_value": [vmax if n else None],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user lifetime stats; one updated row per user per
    micro-batch (output mode must be 'update')."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
