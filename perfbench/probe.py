"""Measurements taken from outside the program: Spark's driver status store,
the physical plan text, and per-process peak RSS from ``/proc``."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field, fields

from py4j.protocol import Py4JError


@dataclass
class StageTotals:
    """What the stages and jobs launched inside one bracket did."""

    jobs: int = 0
    stages: int = 0  # stages that ran; skipped (reused shuffle) ones excluded
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk spill
    max_task_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)

    def add(self, other: "StageTotals") -> None:
        for f in fields(self):
            if f.name == "max_task_ms":
                self.max_task_ms = max(self.max_task_ms, other.max_task_ms)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass(frozen=True)
class Mark:
    stage_id: int
    job_id: int


class StageProbe:
    """Brackets a call by stage and job id on Spark's driver-side status store.

    The store exists with ``spark.ui.enabled=false``. Both lists come back
    sorted by id, newest first, so a mark is the newest ids and a bracket
    reads only the stages and jobs newer than its mark. The listener bus is
    drained before every read, so a stage that finished inside the bracket
    is in the store when the bracket closes. A mark that could not be read
    yields ``None`` from :meth:`since`: unknown, never a total since start.
    """

    def __init__(self, spark, task_details: bool = False):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._task_details = task_details

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _stage_list(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> Mark | None:
        try:
            self._drain()
            stages = self._stage_list()
            jobs = self._store.jobsList(None)
            return Mark(
                stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1,
            )
        except Py4JError:
            return None

    def since(self, mark: Mark | None) -> StageTotals | None:
        if mark is None:
            return None
        try:
            self._drain()
            return self._totals(mark)
        except Py4JError:
            return None

    def _totals(self, mark: Mark) -> StageTotals:
        out = StageTotals()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark.job_id:
                break
            out.jobs += 1
        stages = self._stage_list()
        ran: set[int] = set()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= mark.stage_id:
                break
            if str(s.status()) == "SKIPPED":
                continue
            ran.add(sid)
            out.tasks += s.numCompleteTasks() + s.numFailedTasks()
            out.executor_run_ms += s.executorRunTime()
            out.executor_cpu_ms += s.executorCpuTime() / 1e6
            out.gc_ms += s.jvmGcTime()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if self._task_details:
                out.max_task_ms = max(out.max_task_ms, self._max_task_ms(s))
        out.stage_ids = sorted(ran)
        out.stages = len(ran)
        return out

    def _max_task_ms(self, stage) -> int:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), stage.numTasks())
        longest = 0
        for i in range(tasks.size()):
            duration = tasks.apply(i).duration()
            if duration.isDefined():
                longest = max(longest, duration.get())
        return longest


_EXCHANGE = re.compile(r"^\s*[+:*-]*\s*\(?\d*\)?\s*Exchange\b")
_PYTHON = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"ArrowWindowPython|FlatMapGroupsInArrow"
)


def plan_shape(plan_text: str) -> tuple[int, int]:
    """(shuffle exchanges, Python operator nodes) in a physical plan string."""
    lines = plan_text.splitlines()
    exchanges = sum(1 for line in lines if _EXCHANGE.search(line))
    python = sum(1 for line in lines if _PYTHON.search(line))
    return exchanges, python


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _stat(int(entry))) is not None:
            children.setdefault(int(stat[1]), []).append(int(entry))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def running(pid: int) -> bool:
    stat = _stat(pid)
    return stat is not None and stat[0] != "Z"


class RssProbe:
    """Summed peak RSS (``VmHWM``) of a process tree: the JVM and the Python
    workers it forks. ``reset`` writes 5 to each ``clear_refs``, which sets
    the high-water mark back to the current RSS."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid

    def reset(self) -> None:
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def peak_mb(self) -> float:
        total_kb = 0
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024
