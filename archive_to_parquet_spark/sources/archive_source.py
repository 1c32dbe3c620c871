"""Spark source: archive paths/URLs → canonical entries DataFrame.

Mapping of the reference's physical layer (SURVEY.md §2.7) onto Spark:

- per-input worker fan-out (a pool of ``threads`` workers, one input in
  flight per worker — reference src/converter/base.rs:45-66) → one
  scan task per thread: the driver packs the inputs into
  ``min(len(paths), threads)`` size-balanced bins (greedy LPT), and a
  JVM-only ``spark.range`` with one row per bin drives ONE
  ``mapInArrow`` evaluation per task that walks its bin's inputs in
  sequence. More tasks would only add cost: every Python task pays a
  fixed start-up of about 0.3 s of worker CPU (measured on a 4-core
  x86 host, PySpark 4.1, Python 3.11), because PySpark's per-task
  ``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
  makes every ``zipimporter`` (one per package directory imported from
  a zip, ``pyspark.zip`` above all) re-read its zip's central
  directory; SCALING.md §Ingest has the figures. A cluster sets
  ``threads`` to its total executor cores.
- bounded batch channel with backpressure (reference
  src/channel.rs:112-139) → the ``mapInArrow`` iterator protocol:
  each yielded Arrow RecordBatch is capped by rows AND bytes (the
  reference's dual cap, src/batch.rs:97-99), and Spark's Arrow
  pipeline applies its own flow control downstream.
- producer error → job abort (reference src/visitor.rs:59-65) →
  exceptions raised in the walker fail the task (and job, after Spark's
  task retries — fail-fast parity).

The walker itself is pure Python per input (archives are inherently
sequential streams); the cluster-level parallelism is ACROSS inputs,
which is the reference's model too (threads = inputs in flight).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from archive_to_parquet_spark.options import ConvertOptions
from archive_to_parquet_spark.schema import entry_arrow_schema, entry_ddl

_BATCH_ROWS = 1024  # reference src/batch.rs:78


def _rows_to_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([getattr(r, f.name) for r in rows], f.type) for f in schema],
        schema=schema,
    )


def _walk_input(input_path: str, is_url: bool, options: ConvertOptions):
    from archive_to_parquet_spark.sources.walker import walk_path, walk_stream

    if not is_url:
        yield from walk_path(input_path, options)
        return
    from archive_to_parquet_spark.sources.url_source import open_url

    stream, size = open_url(input_path)
    try:
        yield from walk_stream(input_path, stream, size, options)
    finally:
        stream.close()


def walk_inputs(
    inputs: Iterable[tuple[str, bool]], options: ConvertOptions
) -> Iterator[pa.RecordBatch]:
    """Walk ``(path, is_url)`` inputs in order into Arrow batches — the
    body of every ingest task (``read_archives``, the ``archive``
    DataSource, ``stream_convert``).

    Arrow, not pandas: entry content is opaque bytes, and a pandas leg
    (object arrays → per-batch Arrow re-conversion) only adds copies.
    Each yielded RecordBatch is capped by rows AND content bytes (the
    reference's dual cap): at most 1024 rows, and at most
    ``options.batch_size`` bytes unless it is one larger row. A batch
    may span inputs."""
    schema = entry_arrow_schema(options.columns)
    pending: list = []
    pending_bytes = 0
    for input_path, is_url in inputs:
        for row in _walk_input(input_path, is_url, options):
            n_bytes = len(row.content or b"")
            if pending and (
                len(pending) == _BATCH_ROWS
                or pending_bytes + n_bytes > options.batch_size
            ):
                yield _rows_to_batch(pending, schema)
                pending, pending_bytes = [], 0
            pending.append(row)
            pending_bytes += n_bytes
    if pending:
        yield _rows_to_batch(pending, schema)


def read_archives(
    spark: SparkSession,
    paths: list[str],
    options: ConvertOptions | None = None,
    urls: bool = False,
) -> DataFrame:
    """Entries DataFrame from local archive paths (or URLs with
    ``urls=True``). One Spark task per thread, each walking one
    size-balanced bin of inputs.

    ``options.columns`` prunes the output projection INSIDE the walker:
    with ``content`` excluded, entry payloads are stream-hashed but
    never buffered, shipped through Arrow, or materialized as JVM rows
    — the scan-side column pruning the Python DataSource API cannot do
    automatically (Spark 4.1 hands the reader the full schema whatever
    the query projects; verified empirically). The reference cannot do
    this at all — its sink schema is fixed (src/batch.rs:21-34)."""
    options = options or ConvertOptions()
    options.validate()
    if not paths:
        raise ValueError("no input paths")
    # The path list is a driver-side Python list already, so pack it
    # HERE — no shuffle, no global Window sort at the head of the
    # ingest DAG. When input SIZES are cheaply knowable (local files,
    # bounded manifest), bins are packed size-weighted (greedy LPT),
    # which bounds the makespan at ~4/3 of optimal; URLs and very large
    # manifests fall back to contiguous count-even slices (stat cost).
    bins = _pack_inputs(sorted(paths), min(len(paths), options.threads), urls=urls)

    def walk_bins(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one Range row per task: its id picks the bin this task walks
        yield from walk_inputs(
            (
                (p, urls)
                for rb in batches
                for i in rb.column("id").to_pylist()
                for p in bins[i]
            ),
            options,
        )

    # The bins travel in the mapInArrow closure (PySpark broadcasts a
    # pickled command over 1 MB, so a large manifest ships once per
    # executor); the JVM-only Range keeps the scan at one Python
    # evaluation per task.
    return spark.range(0, len(bins), 1, len(bins)).mapInArrow(
        walk_bins, entry_ddl(options.columns)
    )


# stat-ing a manifest beyond this on the driver costs more than the
# skew it prevents; contiguous slicing takes over (sizes usually come
# from the manifest itself at that scale — pass pre-binned paths then)
_MAX_STAT_PATHS = 100_000


def _pack_inputs(
    paths: list[str], n_tasks: int, urls: bool = False
) -> list[list[str]]:
    """Deterministic task packing for the ingest fan-out: greedy LPT on
    file size when sizes are obtainable (each path goes to the
    currently-lightest bin, biggest first), else contiguous count-even
    slices. Every bin is non-empty for n_tasks <= len(paths)."""
    import heapq
    import os

    sizes: list[int] | None = None
    if not urls and len(paths) <= _MAX_STAT_PATHS:
        try:
            sizes = [os.path.getsize(p) for p in paths]
        except OSError:
            sizes = None
    if sizes is None:
        k, m = divmod(len(paths), n_tasks)
        out, i = [], 0
        for t in range(n_tasks):
            step = k + (1 if t < m else 0)
            out.append(paths[i : i + step])
            i += step
        return out
    bins: list[list[str]] = [[] for _ in range(n_tasks)]
    heap = [(0, t) for t in range(n_tasks)]  # (load, bin) — ties by index
    heapq.heapify(heap)
    for sz, p in sorted(zip(sizes, paths), key=lambda x: (-x[0], x[1])):
        load, t = heapq.heappop(heap)
        bins[t].append(p)
        heapq.heappush(heap, (load + max(sz, 1), t))
    return [b for b in bins if b]
