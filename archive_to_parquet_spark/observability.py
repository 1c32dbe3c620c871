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
- ``profile``: one DataFrame built and executed into the noop sink,
  split into layers: build and execute wall time, the jobs, stages and
  tasks it ran with their executor time and shuffle bytes (and the
  build's share of them), the classes it compiled, and the shape of the
  whole computation as planned before adaptive execution
  (``plans.audit.audit_build``, the record ``PLAN_PINS.json`` pins; a
  runtime join or partition change shows in the counts, not in the
  shape). ``bench.py`` records one per catalog entry and ingest leg.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, fields

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


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


@dataclass
class StageTotals:
    """What the jobs and stages launched inside one bracket did."""

    jobs: int = 0
    stages: int = 0  # stages that ran; SKIPPED ones (reused shuffle) excluded
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk spill


@dataclass(frozen=True)
class QueryProfile:
    wall_s: float  # build_s + exec_s
    build_s: float  # the build and its plan audit, with any checkpoint it ran
    exec_s: float  # the noop write
    totals: StageTotals | None  # None when the bracket could not be read
    build_totals: StageTotals | None  # the part of totals the build ran
    codegen: CodegenCounters  # classes compiled inside the bracket
    plan: dict  # plans.audit.audit_build of the whole computation

    def record(self) -> dict:
        """The profile as one flat JSON-ready dict; the stage totals
        are ``None`` when they could not be read."""
        if self.totals is None:
            totals = dict.fromkeys(f.name for f in fields(StageTotals))
        else:
            totals = {k: round(v, 1) for k, v in asdict(self.totals).items()}
        build = {} if self.build_totals is None else asdict(self.build_totals)
        return {
            "wall_s": round(self.wall_s, 3),
            "build_s": round(self.build_s, 3),
            "exec_s": round(self.exec_s, 3),
            **totals,
            "build_jobs": build.get("jobs"),
            "build_stages": build.get("stages"),
            "build_run_ms": build.get("executor_run_ms"),
            "codegen_compiled": self.codegen.compiled,
            "codegen_ms": round(self.codegen.compile_ms, 1),
            "plan": self.plan,
        }


class _StatusStore:
    """Spark's application status store, which exists with
    ``spark.ui.enabled=false``. Its job and stage lists come back sorted
    by id, newest first, so a mark is the newest ids and a bracket reads
    the entries newer than its mark. The listener bus is drained before
    every read, so a stage that finished inside the bracket is in the
    store when the bracket closes."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _lists(self):
        self._bus.waitUntilEmpty(60_000)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return self._store.jobsList(None), stages

    def mark(self) -> tuple[int, int] | None:
        try:
            jobs, stages = self._lists()
        except Py4JError:
            return None
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: tuple[int, int] | None) -> StageTotals | None:
        if mark is None:
            return None
        try:
            jobs, stages = self._lists()
        except Py4JError:
            return None
        out = StageTotals()
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark[0]:
                break
            out.jobs += 1
        ran: set[int] = set()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if str(s.status()) == "SKIPPED":
                continue
            ran.add(s.stageId())
            out.tasks += s.numCompleteTasks() + s.numFailedTasks()
            out.executor_run_ms += s.executorRunTime()
            out.executor_cpu_ms += s.executorCpuTime() / 1e6
            out.gc_ms += s.jvmGcTime()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out.stages = len(ran)
        return out


def profile(spark: SparkSession, build: Callable[[], DataFrame]) -> QueryProfile:
    """Build the DataFrame through ``plans.audit.audit_build`` and
    execute it into the noop sink, bracketed by job and stage id and by
    the codegen counters.

    The bracket opens before ``build`` runs, so the jobs of a
    checkpoint taken while the DataFrame is built are counted; a read
    of the bracket right after the build splits them out as
    ``build_totals``. The plan shape is the audit of the whole
    computation that ``PLAN_PINS.json`` pins: the built DataFrame's
    physical plan with every subplan checkpointed during the build
    folded in. With AQE on it is the plan as first planned, not the
    adaptive plan the noop write settled on (the write plans its own
    execution), so a runtime join or partition change shows in the
    jobs, stages and shuffle bytes but not in the shape."""
    from archive_to_parquet_spark.plans.audit import audit_build

    status = _StatusStore(spark)
    codegen0 = codegen_counters(spark)
    mark = status.mark()
    t0 = time.perf_counter()
    df, plan = audit_build(build)
    build_s = time.perf_counter() - t0
    build_totals = status.since(mark)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t1
    totals = status.since(mark)
    codegen1 = codegen_counters(spark)
    return QueryProfile(
        wall_s=build_s + exec_s,
        build_s=build_s,
        exec_s=exec_s,
        totals=totals,
        build_totals=build_totals,
        codegen=CodegenCounters(
            compiled=codegen1.compiled - codegen0.compiled,
            compile_ms=codegen1.compile_ms - codegen0.compile_ms,
        ),
        plan=plan,
    )
