"""Continuous maintenance of the bucketed ANN (LSH) index.

The serving layout (`ann_lsh_bucketed`, queries/similarity.py) is an
8-bucket table on the literal-plane LSH bucket id. Under continuous
arrival each micro-batch is appended bucket-routed at write
(``bucketBy`` append to the same table), so the index never needs re-clustering — and the
index health profile is COUNT(DISTINCT vec_id) per bucket, which makes
idempotence a property of the LAYOUT rather than of a transactional
sink: a failure-replayed batch appends a second copy of its rows, but a
DISTINCT count (and MIN) over them cannot change. Contrast
streaming/neardup.py, whose pair OUTPUT is not distinct-foldable and
therefore needs per-batch_id overwrite partitions.

Reference contract: D1's persistent hash index under arrival
(src/sink.rs:75-103), generalized to similarity search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.similarity import (
    hyperplane_bucket_literal,
)


def append_vectors_batch(
    batch_df: DataFrame,
    table: str,
    path: str,
    planes: list[list[float]],
    num_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append one batch of vectors to the bucketed index — the bucket
    route is paid at write, so every later probe/profile rides the
    layout. Safe to call twice with the same batch (replay): the
    duplicate rows are invisible to any DISTINCT-folding consumer."""
    (
        batch_df.select(
            F.col(id_col).alias("vec_id"),
            hyperplane_bucket_literal(vec_col, planes).alias("bucket"),
        )
        .write.mode("append")
        .bucketBy(num_buckets, "bucket")
        .sortBy("bucket")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def index_profile(spark: SparkSession, table: str) -> DataFrame:
    """Per-bucket index health: distinct vector count + first member.
    Grouping keys of both phases of the DISTINCT expansion contain the
    bucket key, so over the bucketed table this plans with ZERO shuffle
    Exchanges (checked in-query by the catalog entry, which raises
    RuntimeError otherwise)."""
    return (
        spark.table(table)
        .groupBy("bucket")
        .agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            F.min("vec_id").alias("first_vec"),
        )
        .select("bucket", "n_vectors", "first_vec")
    )
