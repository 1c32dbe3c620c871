"""CLI — mirrors the reference's flag surface (reference src/main.rs:26-85).

Usage::

    python -m archive_to_parquet_spark.cli [OPTIONS] OUTPUT PATHS...

``PATHS`` of ``-`` reads newline-separated paths from stdin (S3,
reference src/main.rs:137-153).

Every mode runs the same conversion pipeline (plans/convert.py): the
entries pass the refine stage (``--include``, ``--min-size``,
``--max-size``, ``--unique``, ``--deterministic-dedup``), the mode
turns them into its table (raw entries, ``--documents`` or
``--media``), ``--incremental`` skips rows whose key the output already
holds, and one counted write commits the result. A flag a mode cannot
honour is rejected with exit status 2.
"""

from __future__ import annotations

import argparse
import sys

from archive_to_parquet_spark.options import (
    ConvertOptions,
    IncludeType,
    parse_columns,
)


def _parse_size(value: str) -> int:
    """Human sizes: 100MB, 4K, 123 (reference uses clap's byte parser)."""
    value = value.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suffix in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if value.endswith(suffix):
            num = value[: -len(suffix)]
            mult = units.get(suffix[0], 1)
            return int(float(num) * mult)
    return int(value)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="archive-to-parquet-spark",
        description="Recursively extract archives into one parquet dataset",
    )
    p.add_argument("output", help="output parquet path (directory dataset)")
    p.add_argument("paths", nargs="+", help="input paths, or - for stdin")
    p.add_argument("--urls", action="store_true", help="treat PATHS as URLs")
    p.add_argument("--min-size", type=_parse_size, default=None)
    p.add_argument("--max-size", type=_parse_size, default=None,
                   help="EXCLUSIVE upper size bound")
    p.add_argument("--unique", action="store_true",
                   help="global dedup by content hash")
    p.add_argument("--include", default="all", choices=["all", "text", "binary"])
    p.add_argument("--threads", type=int, default=None,
                   help="parallelism (defaults to all cores)")
    p.add_argument("--compression", default="snappy")
    p.add_argument("--batch-count", type=int, default=14,
                   help="accepted for reference CLI parity; has no effect "
                        "(Spark schedules the batches)")
    p.add_argument("--batch-size", type=_parse_size, default=100 * 1024 * 1024)
    p.add_argument("--extract-executable-strings", action="store_true")
    p.add_argument("--columns", default=None,
                   help="comma-separated output projection (subset of "
                        "source,path,size,hash,content,format); omitting "
                        "'content' makes the walker stream-hash without "
                        "buffering payloads — the fast manifest/"
                        "dedup-prepass scan (engine extension; the "
                        "reference's sink schema is fixed; raw entries "
                        "output only)")
    p.add_argument("--single-file", action="store_true",
                   help="coalesce output to one file (reference layout parity)")
    p.add_argument("--deterministic-dedup", action="store_true")
    p.add_argument("--incremental", action="store_true",
                   help="append only rows whose key (hash; doc_id with "
                        "--documents) is absent from OUTPUT; not with --media")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--documents", action="store_true",
                   help="emit a curated documents table (UTF-8 gate, "
                        "HTML→text, language ID) instead of raw entries — "
                        "the crawl-corpus path (plans/crawl.py)")
    mode.add_argument("--media", action="store_true",
                   help="emit a media profile table (kind, dims/duration, "
                        "perceptual hash, audio fingerprint) instead of raw "
                        "entries — header parse + pure-stdlib content "
                        "decode, null for undecodable bytes, never fails "
                        "on one weird file (operators/multimodal.py)")
    p.add_argument("--output-format", default="parquet",
                   choices=["parquet", "jsonl"],
                   help="--documents output format: parquet dataset "
                        "(default) or gzipped-JSONL shards (the corpus "
                        "interchange format LLM pipelines consume)")
    p.add_argument("--no-progress", action="store_true")
    p.add_argument("--log-file", default=None)
    return p


def get_paths(raw_paths: list[str]) -> list[str]:
    """'-' → read newline-separated paths from stdin (src/main.rs:137-153)."""
    if raw_paths == ["-"]:
        return [line.strip() for line in sys.stdin if line.strip()]
    return raw_paths


def _start_progress_reporter(spark, interval: float = 2.0):
    """Background task-progress lines on stderr (the reference's
    indicatif progress bars, reference src/converter/progress.rs) —
    driven by the status-tracker poll in observability.stage_snapshot.
    Returns a stop() callable."""
    import threading

    from archive_to_parquet_spark.observability import stage_snapshot

    stop_event = threading.Event()

    def loop():
        while not stop_event.wait(interval):
            snap = stage_snapshot(spark)
            if snap.active_jobs:
                print(
                    f"\r[progress] jobs={snap.active_jobs} "
                    f"stages={snap.active_stages} "
                    f"tasks {snap.completed_tasks} done / {snap.active_tasks} running",
                    end="",
                    file=sys.stderr,
                )

    thread = threading.Thread(target=loop, daemon=True)
    thread.start()

    def stop():
        stop_event.set()
        thread.join(timeout=1)
        print("", file=sys.stderr)

    return stop


def _mode_error(args) -> str | None:
    """The flags the chosen mode cannot honour (README §CLI modes)."""
    mode = "--media" if args.media else "--documents" if args.documents else None
    if mode and args.columns:
        return f"--columns applies to the raw entries output, not {mode}"
    if args.media and args.incremental:
        return "--incremental does not apply to --media (a profile has no key to skip on)"
    if args.output_format == "jsonl" and not args.documents:
        return "--output-format jsonl requires --documents"
    if args.incremental and args.output_format == "jsonl":
        return (
            "--incremental requires the parquet output format (the doc_id "
            "probe reads the existing dataset's id column)"
        )
    return None


def _table_writer(options: ConvertOptions, jsonl: bool):
    """Writer of a derived table (documents, media profile): parquet, or
    gzipped JSONL shards (one JSON object per line; to_json handles all
    escaping; shard count = task count)."""
    from pyspark.sql import functions as F

    def write(df, output: str, mode: str) -> None:
        if options.single_file:
            df = df.coalesce(1)
        if jsonl:
            df.select(F.to_json(F.struct(*df.columns)).alias("value")).write.mode(
                mode
            ).option("compression", "gzip").text(output)
        else:
            df.write.mode(mode).option("compression", options.compression).parquet(
                output
            )

    return write


def main(argv: list[str] | None = None) -> int:
    import logging
    import os
    from functools import partial

    args = build_parser().parse_args(argv)
    if args.log_file:
        try:
            logging.basicConfig(
                filename=args.log_file,
                level=logging.INFO,
                format="%(asctime)s %(levelname)s %(name)s %(message)s",
            )
        except OSError as e:
            print(f"error: cannot open log file {args.log_file}: {e}", file=sys.stderr)
            return 2
        logging.getLogger(__name__).info("starting conversion: %s", vars(args))
    error = _mode_error(args)
    if error:
        print(f"error: {error}", file=sys.stderr)
        return 2
    threads = args.threads or os.cpu_count() or 8
    options = ConvertOptions(
        threads=threads,
        include=IncludeType.parse(args.include),
        unique=args.unique,
        compression=args.compression,
        min_size=args.min_size,
        max_size=args.max_size,
        batch_size=args.batch_size,
        extract_strings=args.extract_executable_strings,
        single_file=args.single_file,
        deterministic_dedup=args.deterministic_dedup,
        columns=parse_columns(args.columns),
    )
    options.validate()
    paths = get_paths(args.paths)
    if not paths:
        print("error: no input paths", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from archive_to_parquet_spark.plans.convert import (
        counted_write,
        entries_pipeline,
        skip_existing,
    )
    from archive_to_parquet_spark.plans.sink import write_parquet
    from archive_to_parquet_spark.session import get_spark

    # only stop a session this invocation created: when main() is
    # called as a library function (tests, notebooks), getOrCreate
    # returns the CALLER's session and stopping it would kill their
    # SparkContext out from under every later use.  getActiveSession is
    # thread-local, so a default session created in another thread (or
    # not yet activated in this one) would make it None while
    # getOrCreate still returns that existing session — check the
    # process-wide default (what getOrCreate actually reuses) too
    # before claiming ownership.
    owns_session = (
        SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    spark = get_spark("archive_to_parquet_cli")
    progress_stop = None
    if not args.no_progress and sys.stderr.isatty():
        progress_stop = _start_progress_reporter(spark)
    try:
        entries = entries_pipeline(spark, paths, options, urls=args.urls)
        if args.media:
            from archive_to_parquet_spark.operators.multimodal import (
                media_table_from_entries,
                profile_media,
            )

            df = profile_media(media_table_from_entries(entries))
            key, bytes_column = None, "n_bytes"
            write = _table_writer(options, jsonl=False)
        elif args.documents:
            from archive_to_parquet_spark.plans.crawl import documents_from_entries

            df = documents_from_entries(entries)
            key, bytes_column = "doc_id", "n_chars"
            write = _table_writer(options, jsonl=args.output_format == "jsonl")
        else:
            df, key, bytes_column = entries, "hash", "size"
            write = partial(write_parquet, options=options)
        if args.incremental:
            df = skip_existing(spark, df, args.output, key)
        counters = counted_write(
            df,
            args.output,
            write,
            bytes_column,
            mode="append" if args.incremental else "overwrite",
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    except RuntimeError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        if progress_stop is not None:
            progress_stop()
        if owns_session:
            spark.stop()
    if not args.no_progress:
        print(
            f"wrote {counters.output_rows} rows "
            f"(sum of {bytes_column}: {counters.output_bytes}) to {args.output}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
