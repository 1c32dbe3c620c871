"""Observability: job progress (E4 parity).

The reference exposes ingest-side ``Counters`` (entries_read,
entries_read_bytes, archives_read, batches_sent — reference
src/progress.rs:11-60) and sink-side ``ConversionCounter`` totals
(reference src/progress.rs:62-133). The sink-side totals are an
``Observation`` riding the write job (``plans/convert.counted_write``,
no extra pass). Here:

- ``stage_snapshot``: poll-style snapshot from the status tracker for
  active-job progress (the progress-bar analog; works in any deploy
  mode without a py4j callback server).
- ``codegen_counters``: whole-stage-codegen classes compiled and their
  Janino compile time so far, the query profile's codegen layer (read
  twice, around the work to be measured).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class StageSnapshot:
    active_jobs: int
    active_stages: int
    active_tasks: int
    completed_tasks: int
    failed_tasks: int


def stage_snapshot(spark: SparkSession) -> StageSnapshot:
    """Poll current job/stage/task progress (progress-bar analog)."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getActiveJobsIds()
    stage_ids = tracker.getActiveStageIds()
    active = completed = failed = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None:
            active += info.numActiveTasks
            completed += info.numCompletedTasks
            failed += info.numFailedTasks
    return StageSnapshot(
        active_jobs=len(job_ids),
        active_stages=len(stage_ids),
        active_tasks=active,
        completed_tasks=completed,
        failed_tasks=failed,
    )


@dataclass(frozen=True)
class CodegenCounters:
    compiled: int  # generated classes compiled (codegen cache misses)
    compile_ms: float  # their total compile time


def codegen_counters(spark: SparkSession) -> CodegenCounters:
    """Generated classes compiled and their compile time, cumulative
    since the driver JVM started.

    ``compiled`` is the count of Spark's ``CodegenMetrics`` compilation
    histogram, which records one sample per codegen cache miss.
    ``compile_ms`` is the exact nanosecond sum ``CodeGenerator`` keeps
    for the same compiles (the histogram samples a reservoir, so its
    values cannot be summed). Both are JVM-wide: in local mode the
    executors are threads of the driver JVM, so they cover the driver
    and the executors. On a cluster each executor JVM compiles into its
    own cache, so these cover driver-side compiles only."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return CodegenCounters(
        compiled=int(metrics.METRIC_COMPILATION_TIME().getCount()),
        compile_ms=generator.compileTime() / 1e6,
    )
