"""Continuous incremental substring-dedup index over a document
stream — the streaming leg of the bucketed suffix family
(``dedup_suffix_lcp`` → ``dedup_suffix_lcp_bucketed`` → this).

Every micro-batch:

1. computes the batch's word-start suffix prefix rows
   (``operators.dedup._suffix_rows`` — the same builder as the batch
   entries, so all three agree on the suffix universe);
2. probes the ACCUMULATED prefix index for the prefixes this batch
   INTRODUCES (left-anti join on ``pfx``; the stored side excludes
   the current ``batch_id`` so an at-least-once replay cannot match
   its own previously-appended rows and erase its delta);
3. emits the delta — one row per newly-seen 25-char prefix with the
   batch-local ``first_doc`` and occurrence count — and appends the
   batch's distinct prefixes to the index. Both writes land under a
   ``batch_id=N`` partition with mode=overwrite, so replays converge
   to exactly-once.

Determinism: a prefix is emitted exactly once, by the FIRST batch
containing it, with ``first_doc``/``n_suffixes`` computed within that
batch — a closed form over (document, arrival-batch) that the catalog
entry's DuckDB oracle states directly. This is the daily loop of a
100-TB substring-dedup index: each arriving shard is normalized and
suffix-expanded exactly once, the index is probe+append (never
re-derived), and with the index persisted bucketed on ``pfx``
(``dedup_suffix_lcp_bucketed``'s layout) the probe never re-shuffles
stored state.

No reference twin: the reference's dedup is exact-hash only
(src/lib.rs:30 `unique`); this extends its streaming ingest model to
substring-level dedup evidence.

Unbounded-ingest note (r10 advice): this parquet-append layout grows
one ``batch_id`` partition per batch and the probe re-reads the whole
accumulated index each batch — probe cost grows with index size. The
zero-re-shuffle claim belongs to the BUCKETED layout
(``dedup_suffix_lcp_bucketed``). For continuous ingest, periodically
fold aged batch partitions into the bucketed base with
:func:`compact_suffix_index`
(catalog entry ``maintenance_stream_index_compaction``) — probe
results are identical before/after the fold, and the probe then pays
one bucketed anti-join plus only the young uncompacted tail.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import _suffix_rows
from archive_to_parquet_spark.streaming.neardup import _index_exists


def probe_and_append_prefixes(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    delta_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int = 0,
) -> None:
    """One micro-batch of the continuous substring-index loop: emit
    the prefixes this batch introduces (with batch-local first_doc and
    count), then append the batch's distinct prefixes to the index —
    both under the batch_id partition, overwrite (replay-idempotent).
    """
    sfx = _suffix_rows(
        batch.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    )
    # persist (not localCheckpoint): it feeds the delta anti-join AND
    # the append, but a long-running ingest must release the blocks at
    # the end of every batch — a checkpoint's RDD blocks have no
    # public release handle and leaked executor storage block-by-block
    # under continuous ingest (r10 advice)
    agg = sfx.groupBy("pfx").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).alias("n_suffixes"),
    ).persist()
    try:
        delta = agg
        if _index_exists(index_dir):
            stored = (
                spark.read.parquet(index_dir)
                # a replayed batch already appended its own prefixes;
                # excluding them keeps the anti-join from erasing the
                # replay's delta (the suffix-family twin of neardup's
                # a.id != b.id guard)
                .filter(F.col("batch_id") != batch_id)
                .select("pfx")
            )
            delta = agg.join(stored, "pfx", "left_anti")
        delta.write.mode("overwrite").parquet(
            os.path.join(delta_dir, f"batch_id={batch_id}")
        )
        agg.select("pfx").write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_id={batch_id}")
        )
    finally:
        agg.unpersist()


def aged_batch_ids(index_dir: str, max_batch_id: int) -> list[int]:
    """Batch ids at or below the fold watermark — a METADATA decision
    read from the partition directory names (the maintenance-family
    rule: compaction planning never scans data)."""
    ids = []
    for name in sorted(os.listdir(index_dir)):
        if name.startswith("batch_id="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b <= max_batch_id:
                ids.append(b)
    return ids


def compact_suffix_index(
    spark: SparkSession,
    index_dir: str,
    out_table: str,
    out_path: str,
    max_batch_id: int,
    num_buckets: int = 8,
    base_table: str | None = None,
    fingerprint: object = None,
) -> list[int]:
    """Fold AGED index partitions (``batch_id <= max_batch_id``) into a
    base table bucketed on ``pfx`` — the missing piece of the
    continuous-ingest story: the streaming writer appends one
    ``batch_id=N`` partition per batch forever, so probe fan-in (and
    cost) grows with index age. After the fold, a probe anti-joins ONE
    bucketed base (exchange-free, the ``dedup_suffix_lcp_bucketed``
    layout) plus only the young uncompacted tail — probe cost tracks
    tail size, not index size.

    Probe-equivalence: the base holds ``distinct pfx`` of the aged
    partitions (optionally unioned with a previous ``base_table``), so
    (base ∪ tail) is exactly the prefix set of the original index —
    any anti-join probe returns identical rows before and after the
    fold (pinned by tests/test_bucketing.py). Distinct-union
    also makes re-running the fold idempotent.

    With ``fingerprint`` the fold is staged once per (path,
    fingerprint) via ``ensure_bucketed_table`` (pay the shuffle at
    layout time, not per query run); without it the fold always
    rewrites ``out_table``.

    Returns the folded batch ids (from partition directory names — a
    metadata read, no data scan): once the stream's checkpoint is past
    the watermark these partitions are dead and can be vacuumed.
    """
    from archive_to_parquet_spark.plans.bucketing import (
        ensure_bucketed_table,
        write_bucketed,
    )

    def build() -> DataFrame:
        aged = (
            spark.read.parquet(index_dir)
            .filter(F.col("batch_id") <= max_batch_id)
            .select("pfx")
        )
        if base_table is not None:
            aged = aged.unionByName(spark.table(base_table).select("pfx"))
        return aged.distinct()

    if fingerprint is not None:
        ensure_bucketed_table(
            spark, out_table, out_path, "pfx", num_buckets, build, fingerprint
        )
    else:
        spark.sql(f"DROP TABLE IF EXISTS {out_table}")
        write_bucketed(build(), out_table, "pfx", num_buckets, path=out_path)
    return aged_batch_ids(index_dir, max_batch_id)
