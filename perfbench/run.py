"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload convert-corpus --seed 1 --seconds 8 --trace 0

Run from the repository root. The operating point is one process, one
closed-loop client, ``local[cpus]`` where cpus is ``SPARK_GRAFT_CPUS`` or
else the cores this process may run on. convert-corpus's inputs are
generated from the seed into ``.perfbench_work/`` (ignored by git), where
all outputs land too; catalog-battery reads the tables in ``data/``.

The run times its own cold set-up, from process start to a ready session
(imports, JVM launch, package ship, one warm-up operation; input generation
excluded). It then checks correctness and runs passes of the workload for
``--seconds`` seconds, checking every output. With ``--trace 1`` it then
runs one traced pass and the per-layer legs, writes the spans to
``.perfbench_work/traces/`` and reports the per-layer metrics listed in
``BENCHMARK.json`` instead of the end-to-end ones. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
The exit code is 1 when any check failed.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("convert-corpus", "catalog-battery"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def configure_environment(cpus: int) -> None:
    """Before pyspark loads: the operating point, no catalog result traces,
    and Spark's and Python's scratch space inside the work directory."""
    scratch = os.path.join(WORK, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_TRACE"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session():
    from archive_to_parquet_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def shut_down(spark) -> None:
    """Stop the session, then end the JVM, which exits when its stdin
    closes, and wait until it and every process it started have ended."""
    from pyspark import SparkContext

    from probe import process_tree, running

    spark.stop()
    proc = SparkContext._gateway.proc
    started = process_tree(proc.pid)
    proc.stdin.close()
    proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(running(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.cpus = host_cpus()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.tracer = None
        self.spark = None

    def _span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def _count(self, ops) -> None:
        for op in ops:
            self.attempted += 1
            if op.error:
                self.failed += 1
                self.problems.append(op.error)

    def start(self):
        """Imports (timed: they are part of a cold set-up), then the
        workload and its inputs (not timed: input generation is excluded)."""
        configure_environment(self.cpus)
        import pyspark  # noqa: F401

        import archive_to_parquet_spark.session  # noqa: F401

        self.import_s = time.perf_counter() - PROCESS_START
        from workloads import WORKLOADS

        args = self.args
        return WORKLOADS[args.workload](args.workload, WORK, args.seed, self.cpus)

    def set_up(self, workload) -> None:
        """The cold set-up: imports, ``get_spark`` (JVM launch and package
        ship) and one warm-up operation, from process start."""
        t0 = time.perf_counter()
        with self._span("session.get_spark"):
            self.spark = start_session()
        t1 = time.perf_counter()
        with self._span("session.warmup"):
            workload.warmup(self.spark)
        t2 = time.perf_counter()
        self.metrics.update({
            "setup_s": self.import_s + (t2 - t0),
            "session.import_s": self.import_s,
            "session.get_spark_s": t1 - t0,
            "session.warmup_s": t2 - t1,
        })

    def measure(self, workload) -> list[float]:
        """Closed loop for ``--seconds``: one pass at a time, each output
        checked. Returns the pass times."""
        from probe import RssProbe
        rss = RssProbe(self.spark.sparkContext._gateway.proc.pid)
        passes, latencies, peaks = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while not passes or time.perf_counter() < t_end:
            os.sync()  # the last pass's output is on disk, not being flushed
            rss.reset()
            ops = workload.run_pass(self.spark)
            peaks.append(rss.peak_mb())
            self._count(ops)
            passes.append(sum(op.seconds for op in ops))
            latencies += [op.seconds for op in ops]
        run_s = median(passes)
        self.metrics.update({
            "run_s": run_s,
            "input_mb_per_s": workload.input_bytes / 1e6 / run_s,
            "entries_per_s": workload.items / run_s,
            "query_s_p50": percentile(latencies, 50),
            "query_s_p90": percentile(latencies, 90),
            "peak_rss_mb": median(peaks),
            **workload.pass_metrics(),
        })
        print(f"# passes (s): {[round(p, 3) for p in passes]}; peak RSS (MB): "
              f"{[round(p) for p in peaks]}", file=sys.stderr)
        return passes

    def traced(self, workload, passes: list[float]) -> None:
        from probe import StageProbe
        traced_s, layers = workload.traced_pass(
            self.spark, self.tracer, StageProbe(self.spark)
        )
        self.metrics.update(layers)
        self.metrics["trace.overhead_s"] = traced_s - median(passes)
        self.metrics["trace.spans"] = len(self.tracer.spans)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        self.tracer.write(
            os.path.join(WORK, "traces", f"{self.tracer.run_id}.json"),
            {"metrics": self.metrics, "untraced_pass_s": passes},
        )

    def run(self) -> dict:
        args = self.args
        workload = self.start()
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer(f"{args.workload}-s{args.seed}")
        os.sync()  # freshly generated inputs are written back before timing
        try:
            with self._span("session.setup"):
                self.set_up(workload)
            self._count(workload.prepare(self.spark))
            passes = self.measure(workload)
            if args.trace:
                self.traced(workload, passes)
        finally:
            if self.spark is not None:
                shut_down(self.spark)
        return self.metrics


def report(bench: Bench, trace: bool) -> dict:
    """The result object, with exactly the metrics BENCHMARK.json lists."""
    s = spec()
    listed = s["per_layer"] if trace else s["end_to_end"]
    metrics = {}
    for m in listed:
        if not trace and m["name"] not in bench.metrics:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(bench.metrics.get(m["name"], 0.0)), "unit": m["unit"]}
    return {
        "correct": bench.failed == 0,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "archive_to_parquet_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    bench = Bench(args)
    bench.run()
    result = report(bench, bool(args.trace))
    for problem in bench.problems:
        print(f"# FAILED: {problem}", file=sys.stderr)
    error_rate = bench.failed / max(bench.attempted, 1)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"query_s_p50 = {bench.metrics['query_s_p50']:.6g} s")
    print(f"error_rate = {error_rate:.6g} fraction")
    if "output_bytes_per_input_byte" in bench.metrics:
        print(f"output_bytes_per_input_byte = {bench.metrics['output_bytes_per_input_byte']:.6g} ratio")
    print(json.dumps(result))
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main())
