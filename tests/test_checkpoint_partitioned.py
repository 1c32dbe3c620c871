"""Partitioning-preserving checkpoints (plans/checkpoint.py).

Under AQE, ``Dataset.localCheckpoint`` captures UnknownPartitioning, so
consumers re-shuffle rows that are already correctly partitioned.
``checkpoint_partitioned`` / ``checkpoint_keeping_partitioning`` fix
that by executing the checkpoint's own job with AQE off, making the
LogicalRDD record the static plan's HashPartitioning.

These helpers are the iterative-graph counterpart of the bucketed-table
layout (plans/bucketing.py): pay one explicit shuffle so repeated
consumers keyed on the same columns plan exchange-free.  NOTE the
measured trade-off (round 8): on SMALL per-round tables the static
exchange-free plan removes AQE's runtime broadcast-conversion points
and forces sorted SMJ over shuffle.partitions tasks — 12-60% slower at
sf0.1 on the DBSCAN entries — so the catalog's connected-components
loop deliberately does NOT use them; they are for genuinely large
iterative workloads where the per-round tables are shuffle-bound.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from archive_to_parquet_spark.plans.bucketing import plan_has_exchange
from archive_to_parquet_spark.plans.checkpoint import (
    checkpoint_keeping_partitioning,
    checkpoint_partitioned,
)
from tests.test_plan_shapes import SF_DIR


def test_checkpoint_partitioned_joins_without_exchange(spark, broadcast_off):
    edges = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    )
    labels = spark.range(7).select(
        F.col("id"), F.col("id").alias("component")
    )
    ck_e = checkpoint_partitioned(edges, "dst")
    ck_l = checkpoint_partitioned(labels, "id")
    joined = ck_e.join(ck_l, ck_e.dst == ck_l.id)
    assert not plan_has_exchange(joined), (
        "co-partitioned checkpoints must join exchange-free"
    )
    # self-join over ONE partitioned checkpoint: also exchange-free
    a, b = ck_e.alias("a"), ck_e.alias("b")
    self_joined = a.join(
        b,
        (F.col("a.dst") == F.col("b.dst"))
        & (F.col("a.src") < F.col("b.src")),
    )
    assert not plan_has_exchange(self_joined)
    # and the values are intact
    assert joined.count() == 1000


def test_plain_localcheckpoint_loses_partitioning_under_aqe(
    spark, broadcast_off
):
    """The negative control: without the AQE-off trick, the same join
    re-shuffles both sides — this is the Spark behavior the helpers
    exist to work around; if an upgrade makes plain localCheckpoint
    preserve partitioning, this fails and the helpers can be retired."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        spark.range(1000)
        .select(F.col("id").alias("src"), (F.col("id") % 7).alias("dst"))
        .repartition(n, F.col("dst"))
        .localCheckpoint()
    )
    labels = (
        spark.range(7)
        .select(F.col("id"), F.col("id").alias("component"))
        .repartition(n, F.col("id"))
        .localCheckpoint()
    )
    assert plan_has_exchange(edges.join(labels, edges.dst == labels.id))


def test_checkpoint_keeping_partitioning_restores_aqe_conf(spark):
    before = spark.conf.get("spark.sql.adaptive.enabled")
    df = checkpoint_keeping_partitioning(
        spark.range(10).repartition(2, F.col("id"))
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    assert df.count() == 10


# -- checkpoint partitioning capture (the dbscan/CC rework's foundation) ---


def test_checkpoint_partitioning_survives_for_bare_distinct(
    spark, broadcast_off
):
    """The round-9 shuffle shave rests on two measured facts: a
    partitioning-keeping checkpoint of a BARE distinct is reusable by
    id-keyed consumers with no exchange, while aliasing the key inside
    the checkpointed plan loses the captured partitioning.  Pin both,
    so a Spark upgrade that changes the capture rules fails loudly
    here instead of silently re-inflating the CC loop's shuffles."""
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
        checkpoint_partitioned,
    )

    base = spark.range(100).select((F.col("id") % 11).alias("id"))
    other = checkpoint_partitioned(
        spark.range(50).select(F.col("id").alias("src")), "src"
    )
    good = checkpoint_keeping_partitioning(base.distinct())
    plan_good = (
        good.join(other, good.id == other.src, "left")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan_good.count("Exchange") == 0
    # the anti-pattern: key aliased inside the checkpointed plan
    bad = checkpoint_keeping_partitioning(
        base.distinct().withColumn("component", F.col("id"))
    )
    plan_bad = (
        bad.join(other, bad.id == other.src, "left")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan_bad.count("Exchange") == 1
