"""The end-to-end conversion plan (the reference's fixed dataflow).

scan → recursive flatten → project(+sha256) → include filter → size
filter → (optional) global hash dedup → parquet sink, with
observability counters — the Spark expression of reference
src/main.rs:87-135 / SURVEY.md §3.1.

Every ingest mode (``convert``, ``convert_incremental``, the CLI's
``--documents`` and ``--media``, ``stream_convert``) is a composition of
the stages here: ``refine`` over the scanned entries, optionally
``skip_existing`` against the output, then one ``counted_write``.

All post-ingest stages are narrow column predicates except dedup (one
shuffle on ``hash``); filters run in the SAME stage as the walker
(no exchange), so content bytes stream from the archive straight into
the parquet writer unless ``unique`` forces the dedup exchange.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_deterministic,
)
from archive_to_parquet_spark.operators.filters import (
    apply_include_filter,
    apply_size_filter,
)
from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.plans.sink import write_parquet
from archive_to_parquet_spark.sources.archive_source import read_archives


@dataclass
class ConversionCounters:
    """Post-run totals (reference ConversionCounter, src/progress.rs:62-133)."""

    output_rows: int
    output_bytes: int


def refine(df: DataFrame, options: ConvertOptions) -> DataFrame:
    """Entries → the rows the reference keeps: include filter → size
    filter → (``unique``) hash dedup."""
    df = apply_include_filter(df, options.include)
    df = apply_size_filter(df, options)
    if options.unique:
        df = (
            dedup_exact_deterministic(df, "hash")
            if options.deterministic_dedup
            else dedup_exact(df, "hash")
        )
    return df


def entries_pipeline(
    spark: SparkSession,
    paths: list[str],
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> DataFrame:
    """The full logical plan, unsunk — scan/flatten/filter/dedup."""
    options = options or ConvertOptions()
    return refine(read_archives(spark, paths, options, urls=urls), options)


def skip_existing(
    spark: SparkSession, df: DataFrame, output: str, key: str
) -> DataFrame:
    """Rows of ``df`` whose ``key`` is absent from the dataset at
    ``output`` — the append-only ingest step. The probe reads ONLY the
    key column of the existing dataset (column pruning; with the
    hash-prefix partitioned layout it also prunes partitions), so cost
    tracks the new batch + the key index, not total corpus bytes. Raises
    ``ValueError`` before any job when ``df`` lacks ``key``."""
    from pyspark.errors import AnalysisException

    if key not in df.columns:
        raise ValueError(
            f"skipping rows already in {output} needs the {key!r} column; "
            f"got columns {df.columns}"
        )
    # probe the output through Hadoop's FileSystem, not os.path — the
    # output may be a non-local URI (hdfs://, s3a://) where a local
    # existence check would silently skip the anti-join. Reading a
    # missing path is no probe: the failed read's QueryExecution reaches
    # the session's query-execution listeners, and once an Observation
    # has registered one (``counted_write``) it re-analyzes that plan
    # and logs PATH_NOT_FOUND as a listener error.
    path = spark._jvm.org.apache.hadoop.fs.Path(output)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return df  # first batch: nothing to skip
    try:
        existing = spark.read.parquet(output).select(key)
    except AnalysisException:
        return df  # an output dir holding no parquet files yet
    # a USING join puts the key first; keep the frame's column order
    return df.join(existing, key, "left_anti").select(*df.columns)


def counted_write(
    df: DataFrame,
    output: str,
    write: Callable[..., None],
    bytes_column: str = "size",
    mode: str = "overwrite",
) -> ConversionCounters:
    """Run ``write(df, output, mode=mode)`` with the row count and the
    sum of ``bytes_column`` observed inside the same job. Zero rows under
    ``overwrite`` raises ``RuntimeError`` and removes the empty dataset
    (reference src/main.rs:129-132); zero new rows under ``append`` is
    fine (everything was already ingested)."""
    obs = Observation("conversion_counters")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("output_rows"),
        # the column may be pruned from the projection (options.columns)
        F.coalesce(
            F.sum(bytes_column) if bytes_column in df.columns else F.lit(0),
            F.lit(0),
        ).alias("output_bytes"),
    )
    write(df, output, mode=mode)
    counters = ConversionCounters(
        output_rows=int(obs.get["output_rows"]),
        output_bytes=int(obs.get["output_bytes"]),
    )
    if counters.output_rows == 0 and mode == "overwrite":
        # the reference errors WITHOUT producing output (src/main.rs:129-132);
        # remove the empty dataset the sink just committed so a failed run
        # leaves nothing behind (local/file URIs only — for remote
        # filesystems the empty dataset is left and named in the error)
        from urllib.parse import urlparse

        parsed = urlparse(output)
        detail = ""
        if parsed.scheme in ("", "file"):
            import shutil

            shutil.rmtree(parsed.path or output, ignore_errors=True)
        else:
            detail = f" (empty dataset left at {output})"
        raise RuntimeError(
            "no rows converted from input files" + detail  # reference src/main.rs:131
        )
    return counters


def convert_incremental(
    spark: SparkSession,
    paths: list[str],
    output: str,
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> ConversionCounters:
    """Append-only conversion that skips content already present in
    ``output`` (by hash) — the steady-state ingest mode for a growing
    corpus: each batch pays one left-anti join against the existing
    hash set instead of a full-table rewrite. New rows may still
    duplicate each other; ``options.unique`` dedups within the batch
    first."""
    options = options or ConvertOptions()
    df = entries_pipeline(spark, paths, options, urls=urls)
    df = skip_existing(spark, df, output, "hash")
    return counted_write(
        df, output, partial(write_parquet, options=options), mode="append"
    )


def convert(
    spark: SparkSession,
    paths: list[str],
    output: str,
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> ConversionCounters:
    """Run the conversion and write parquet. Raises on zero output rows
    (reference src/main.rs:129-132)."""
    options = options or ConvertOptions()
    df = entries_pipeline(spark, paths, options, urls=urls)
    return counted_write(df, output, partial(write_parquet, options=options))
