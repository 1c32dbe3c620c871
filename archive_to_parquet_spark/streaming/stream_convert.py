"""Streaming conversion: watch a directory for new archives, convert
incrementally.

The reference's execution already IS a bounded streaming pipeline
(producer/consumer channel with backpressure, reference
src/channel.rs:112-139); Structured Streaming generalizes it to
unbounded arrival. New archive files landing in a watched directory
become micro-batches; each batch runs the SAME stages as the batch
``convert`` via ``foreachBatch`` — walk (``walk_inputs``), ``refine``
(include → size → hash dedup within the batch), then the tuned parquet
sink in append mode — giving exactly-once parquet appends with
checkpointed progress.

``unique`` is global across the whole stream: besides the in-batch
dedup, each micro-batch skips hashes the output already holds
(``skip_existing``, a left-anti join on the output's ``hash`` column),
so no streaming state grows with distinct hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.plans.convert import refine, skip_existing
from archive_to_parquet_spark.plans.sink import write_parquet
from archive_to_parquet_spark.schema import entry_ddl
from archive_to_parquet_spark.sources.archive_source import walk_inputs


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
    options.validate()

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

    def walk_paths(batches):
        yield from walk_inputs(
            (
                (p, False)
                for rb in batches
                for p in rb.column("input_path").to_pylist()
            ),
            options,
        )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the file-stream source reports URIs (file:/...); the walker opens
        # with local IO, so strip the local scheme (cluster deployments with
        # hdfs:/s3: inputs should mount or fetch — see url_source for http)
        entries = batch_df.select(
            F.regexp_replace("path", r"^file:", "").alias("input_path")
        ).mapInArrow(walk_paths, entry_ddl(options.columns))
        entries = refine(entries, options)
        if options.unique:
            entries = skip_existing(batch_df.sparkSession, entries, output, "hash")
        write_parquet(entries, output, options, mode="append")

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
