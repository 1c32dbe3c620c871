"""Continuous incremental near-duplicate detection over a document
stream — the 100 TB continuous-dedup loop under Structured Streaming.

The batch tier already has the two halves: `minhash_band_index` (the
persistable LSH state) and `dedup_against_index` (probe a batch
without re-banding the corpus). `probe_and_append` is the
`foreachBatch` body that joins them (the catalog entry
`stream_neardup_incremental` drives it): every micro-batch

1. probes the ACCUMULATED band index for cross-batch collisions
   (batch bands ⨝ index bands on (band_idx, band_hash) — the batch
   side is one ingest slice, so it broadcasts; with the index stored
   bucketed on band_hash the probe is shuffle-free per bucket);
2. self-joins its own bands for intra-batch collisions;
3. appends its band rows to the index (probe + append, never
   recompute — corpus text is touched exactly once, on arrival).

Determinism: the emitted PAIR SET is invariant to batch boundaries
and arrival order — a colliding pair (a, b) is emitted exactly once,
by whichever document arrives later (cross-batch) or by the batch
that contains both (intra-batch). Over a bounded stream the union
equals the batch-mode all-pairs band-collision set, which is why the
catalog entry carries a full SQL oracle (exact Jaccard, same
recall-by-construction argument as dedup_minhash).

Restart semantics: `foreachBatch` is at-least-once — a replayed batch
re-runs probe + append. Both writes are therefore keyed by batch_id
(`.../batch_id=N` subdirectory, mode=overwrite), so a replay
OVERWRITES its own prior output instead of appending a second copy:
index state and pair output converge to exactly-once. The cross-batch
probe additionally guards `a.id != b.id` so a replayed batch that
already appended its band rows cannot match itself in the stored
index and emit self-pairs (Jaccard(x,x)=1 would pass any threshold).

No reference twin: the reference's dedup is exact-hash only
(src/lib.rs:30 `unique`); this is the near-dup extension of its
streaming ingest model.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import minhash_band_index


def _index_exists(index_dir: str) -> bool:
    # Local-FS check is fine for tests/local runs; a deployment stores
    # the index as a (bucketed) table and this becomes a catalog probe.
    # Walk: index rows live under batch_id=N partition subdirectories.
    if not os.path.isdir(index_dir):
        return False
    for _root, dirs, files in os.walk(index_dir):
        # Prune hidden dirs (_temporary/, _spark_metadata/, .staging):
        # spark.read.parquet ignores underscore/dot-prefixed paths, so a
        # part file left by a crashed in-flight write must not count as
        # an "existing" index the reader can't actually infer a schema
        # from.
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


def probe_and_append(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    batch_id: int = 0,
) -> None:
    """One micro-batch of the continuous-dedup loop: emit this batch's
    collision pairs (cross-batch vs the stored index + intra-batch),
    then write the batch's band rows into the index under its
    batch_id partition (overwrite — replays are idempotent)."""
    bidx = minhash_band_index(
        batch, id_col, text_col, num_hashes, bands, shingle_n
    ).localCheckpoint()

    pairs = None
    if _index_exists(index_dir):
        stored = spark.read.parquet(index_dir).drop("batch_id")
        a = bidx.alias("a")
        b_ = stored.alias("b")
        cross = (
            F.broadcast(a)
            .join(
                b_,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                # A replayed batch already has its own band rows in the
                # stored index; without this guard it would match itself
                # and emit (x, x) self-pairs.
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
        )
        pairs = cross
    aa, ab = bidx.alias("x"), bidx.alias("y")
    intra = (
        aa.join(
            ab,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")
        )
    )
    pairs = intra if pairs is None else pairs.unionByName(intra)
    # Per-batch_id subdirectories + overwrite make both writes
    # idempotent under foreachBatch's at-least-once replay: a replay
    # replaces its own prior output, so index and pair state converge
    # to exactly-once. Readers see batch_id as a partition column.
    pairs.dropDuplicates(["id_a", "id_b"]).write.mode("overwrite").parquet(
        os.path.join(pairs_dir, f"batch_id={batch_id}")
    )
    bidx.write.mode("overwrite").parquet(
        os.path.join(index_dir, f"batch_id={batch_id}")
    )
