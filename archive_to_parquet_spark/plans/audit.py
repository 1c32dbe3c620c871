"""Physical-plan audit of one catalog entry's whole computation.

``audit_build`` is the one place an entry is built and audited. The
oracle gate (``tests/test_oracle_gate.py``) checks its record against
the committed ``PLAN_PINS.json``, ``observability.profile`` records it
as the bench's plan shape, and ``collect_audit`` loops it over the
catalog for ``tools/scale_audit.py`` (which renders SCALE_AUDIT.md and
writes the pin). A silent plan-shape drift (an entry growing a shuffle,
a nested-loop join appearing, Python exec leaking into a JVM entry)
fails the entry's gate test, and the bench reports the same shape the
pin holds.

The record covers the final physical plan PLUS every checkpoint-hidden
subplan (see plans/checkpoint.py — ``localCheckpoint`` truncates
lineage, so the final plan alone would miss everything executed before
a checkpoint).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",  # also matches the pre-4.0 name PythonMapInArrow
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)


def _global_windows(plan: str) -> int:
    """Count window specs with NO partition keys — the single-partition
    funnel WindowExec warns about at runtime.  Heuristic on the plan
    string: in ``windowspecdefinition(a#1, b#2 ASC ..., frame)`` the
    partition keys come first, so a FIRST argument that is already a
    sort order (carries ASC/DESC) means an empty partition clause.  An
    unpartitioned window with no ORDER BY either (pure global frame)
    is not caught — no catalog entry uses one, and it would trip the
    shuffle pin anyway via its SinglePartition exchange."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan):
        first = m.group(1)
        if " ASC" in first or " DESC" in first:
            n += 1
    return n


def audit_plan(plan: str) -> dict:
    broadcast_x = plan.count("BroadcastExchange")
    shuffle_x = plan.count("Exchange") - broadcast_x
    py_nodes = [n for n in PY_NODES if n in plan]
    return {
        "global_windows": _global_windows(plan),
        "shuffle_exchanges": shuffle_x,
        "broadcast_exchanges": broadcast_x,
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "py": "+".join(py_nodes) if py_nodes else "",
        "scans": plan.count("Scan parquet"),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "cartesian": "CartesianProduct" in plan,
        "cached": "InMemoryTableScan" in plan,
    }


def audit_build(build: Callable[[], DataFrame]) -> tuple[DataFrame, dict]:
    """Call ``build`` under ``recording_checkpoint_plans`` and return
    the DataFrame with the ``audit_plan`` statistics of the whole
    computation: its own physical plan as planned before adaptive
    execution, with every subplan checkpointed while it was built
    folded in (``ckpt_subplans`` counts them)."""
    from archive_to_parquet_spark.plans.checkpoint import (
        recording_checkpoint_plans,
    )

    hidden: list[str] = []
    with recording_checkpoint_plans(hidden):
        df = build()
    rec = audit_plan(df._jdf.queryExecution().executedPlan().toString())
    for sub in hidden:  # counts add, flags or, Python node names union
        for k, v in audit_plan(sub).items():
            if isinstance(v, bool):
                rec[k] = rec[k] or v
            elif isinstance(v, int):
                rec[k] += v
            elif v:
                rec[k] = "+".join(
                    sorted(set(filter(None, rec[k].split("+"))) | set(v.split("+")))
                )
    rec["ckpt_subplans"] = len(hidden)
    return df, rec


def collect_audit(spark, sf_dir: str):
    """``audit_build`` every catalog entry outside the streaming family
    at ``sf_dir`` and return ``(rows, streaming, errors)`` where
    ``rows`` is one statistics dict per entry (with its ``name``),
    ``streaming`` the skipped streaming-family names, and ``errors``
    ``(name, msg)`` pairs."""
    from archive_to_parquet_spark import queries as q

    rows = []
    streaming = []
    errors = []
    for name, fn in q.queries().items():
        if q.family(name) == "streaming":
            streaming.append(name)
            continue
        try:
            _df, rec = audit_build(partial(fn, spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — report, don't abort
            errors.append((name, f"{type(e).__name__}: {str(e)[:120]}"))
            continue
        rows.append({**rec, "name": name})
    return rows, streaming, errors


def pin_of(rec: dict) -> dict:
    """The pinned per-entry triple: the statistics whose silent growth
    is a scale regression.  Broadcast counts and scan counts are NOT
    pinned — adding a broadcast dim or splitting a scan is routine;
    gaining a shuffle, a nested-loop join, a cartesian product, a
    Python exec node, or an unpartitioned (single-partition-funnel)
    window is not."""
    return {
        "shuffles": rec["shuffle_exchanges"],
        "bnlj": rec["bnlj"],
        "py": rec["py"],
        "cartesian": rec["cartesian"],
        "gw": rec["global_windows"],
    }
