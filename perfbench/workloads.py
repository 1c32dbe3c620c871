"""The two workloads: what one pass runs, how its outputs are checked, and
what the traced pass measures per layer.

A pass is one closed-loop request from the single client: one ``convert``
call for convert-corpus, the ten catalog entries in sequence for the
catalog battery. Each pass returns its operations as ``Op`` records; the
caller times nothing itself.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import inputs as gen
from checks import check_ingest, duckdb_oracle, oracle_problem
from probe import StageProbe, StageTotals, plan_shape
from spans import Tracer

MB = 1e6

CATALOG_ENTRIES = (
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_minhash",
    "dedup_simhash",
    "ann_ivf_pq_topk",
    "multimodal_header_decode",
    "multimodal_content_decode",
    "graph_pagerank",
    "text_gopher_quality",
    "tpch_q09_product_profit",
)
# the walker's hash-only leg: no content column, so entries are hashed, not kept
HASH_ONLY_COLUMNS = ("source", "path", "size", "hash", "format")


@dataclass
class Op:
    seconds: float
    error: str | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _failure(what: str) -> str:
    """Record the traceback of a failed operation on stderr and name it."""
    traceback.print_exc(file=sys.stderr)
    return f"{what}: {sys.exc_info()[1]!r}"[:300]


class Ingest:
    """convert-corpus: ``convert`` over generated archives."""

    def __init__(self, name: str, work: str, seed: int, cpus: int):
        from archive_to_parquet_spark.options import ConvertOptions

        self.cpus = cpus
        self.inputs = gen.convert_corpus(work, seed, cpus)
        self.options = ConvertOptions(
            threads=cpus, unique=True, max_size=self.inputs.max_size,
            compression="snappy",
        )
        self.warm_inputs = gen.warmup_archives(work, cpus)
        self.out = os.path.join(work, "out", name)
        self.warm_out = os.path.join(work, "out", f"{name}-warmup")
        self.input_bytes = self.inputs.input_bytes
        self.items = len(self.inputs.entries)

    def warmup(self, spark) -> None:
        from archive_to_parquet_spark.plans.convert import convert

        convert(spark, self.warm_inputs, self.warm_out, self.options)
        shutil.rmtree(self.warm_out, ignore_errors=True)

    def prepare(self, spark) -> list[Op]:
        """One untimed, checked pass: the first full convert in a session
        still pays for worker imports and JIT compilation."""
        return self.run_pass(spark)

    def _convert(self, spark):
        """One timed ``convert``; returns the op and the program's counters."""
        from archive_to_parquet_spark.plans.convert import convert

        t0 = time.perf_counter()
        try:
            counters = convert(spark, self.inputs.paths, self.out, self.options)
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            return Op(time.perf_counter() - t0, _failure("convert")), None
        return Op(time.perf_counter() - t0), counters

    def _check(self, op: Op, counters) -> None:
        """Untimed: compare the output on disk, and the row count the
        program reported, with the generator's expectation."""
        if op.error:
            return
        try:
            problems = check_ingest(self.out, self.inputs)
        except Exception:  # noqa: BLE001 - unreadable output is a failed check
            problems = [_failure("reading the output")]
        expected_rows = len(self.inputs.survivors())
        if counters.output_rows != expected_rows:
            problems.append(f"convert counted {counters.output_rows} rows, expected {expected_rows}")
        op.error = "; ".join(problems) or None

    def run_pass(self, spark) -> list[Op]:
        op, counters = self._convert(spark)
        self._check(op, counters)
        return [op]

    def pass_metrics(self) -> dict:
        """Printed beside the end-to-end metrics: the last output's size."""
        sink = self._sink_files()
        return {"output_bytes_per_input_byte": sink["sink.output_bytes"] / self.input_bytes}

    def traced_pass(self, spark, tracer: Tracer, probe: StageProbe) -> tuple[float, dict]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from archive_to_parquet_spark.operators.filters import (
            apply_include_filter,
            apply_size_filter,
        )
        from archive_to_parquet_spark.plans.convert import entries_pipeline
        from archive_to_parquet_spark.sources.archive_source import read_archives

        m: dict[str, float] = {}
        with tracer.span("pass"):
            with tracer.span("convert", probe) as conv:
                op, counters = self._convert(spark)
        self._check(op, counters)
        if op.error:
            raise RuntimeError(f"traced convert failed: {op.error}")
        m.update({"convert.jobs": conv.totals.jobs, "convert.stages": conv.totals.stages,
                  "convert.tasks": conv.totals.tasks})
        m.update(self._sink_files())
        m["sink.output_bytes_per_input_byte"] = m["sink.output_bytes"] / self.input_bytes

        m.update(self._walker_legs(tracer))

        with tracer.span("archive_source.scan", StageProbe(spark, task_details=True)) as scan:
            df = read_archives(spark, self.inputs.paths, self.options)
            scanned, kept = Observation("scanned"), Observation("kept")
            df = df.observe(scanned, F.count(F.lit(1)).alias("rows"))
            df = apply_size_filter(apply_include_filter(df, self.options.include), self.options)
            _noop(df.observe(kept, F.count(F.lit(1)).alias("rows")))
        s = scan.totals
        m.update({
            "archive_source.scan_s": scan.seconds,
            "archive_source.tasks": s.tasks,
            "archive_source.executor_run_ms": s.executor_run_ms,
            "archive_source.executor_cpu_ms": s.executor_cpu_ms,
            "archive_source.gc_ms": s.gc_ms,
            "archive_source.max_task_ms": s.max_task_ms,
            "archive_source.core_utilization": s.executor_run_ms / (1000 * scan.seconds * self.cpus),
            "filters.rows_dropped": scanned.get["rows"] - kept.get["rows"],
            "dedup.rows_in": kept.get["rows"],
        })

        with tracer.span("pipeline", probe) as pipe:
            out = Observation("pipeline_out")
            _noop(entries_pipeline(spark, self.inputs.paths, self.options)
                  .observe(out, F.count(F.lit(1)).alias("rows")))
        p = pipe.totals
        m.update({
            "pipeline.s": pipe.seconds,
            "dedup.rows_out": out.get["rows"],
            "dedup.shuffle_write_bytes": p.shuffle_write_bytes,
            "dedup.shuffle_read_bytes": p.shuffle_read_bytes,
            "dedup.spill_bytes": p.spill_bytes,
            "sink.s": conv.seconds - pipe.seconds,
        })
        return conv.seconds, m

    def _sink_files(self) -> dict:
        import pyarrow.parquet as pq

        files = [
            os.path.join(self.out, f) for f in os.listdir(self.out)
            if f.endswith(".parquet")
        ]
        return {
            "sink.files": len(files),
            "sink.output_bytes": sum(os.path.getsize(f) for f in files),
            "sink.row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        }

    def _walker_legs(self, tracer: Tracer) -> dict:
        """Spark-free, one thread: decode only, hash only, full walk."""
        from archive_to_parquet_spark.options import ConvertOptions
        from archive_to_parquet_spark.sources.walker import sniff_stream, walk_path

        paths = self.inputs.paths
        with tracer.span("walker.decode") as dec:
            decoded = 0
            for p in paths:
                with open(p, "rb") as fh:
                    _, stream = sniff_stream(fh)
                    while chunk := stream.read(1 << 20):
                        decoded += len(chunk)
        with tracer.span("walker.hash_only") as hashed:
            pruned = ConvertOptions(columns=HASH_ONLY_COLUMNS)
            hashed_bytes = sum(r.size for p in paths for r in walk_path(p, pruned))
        with tracer.span("walker.walk") as walk:
            entries = walked = 0
            for p in paths:
                for r in walk_path(p):
                    entries += 1
                    walked += r.size
        return {
            "walker.decode_mb_per_s": decoded / MB / dec.seconds,
            "walker.hash_only_mb_per_s": hashed_bytes / MB / hashed.seconds,
            "walker.walk_mb_per_s": walked / MB / walk.seconds,
            "walker.entries": entries,
            "walker.bytes": walked,
        }


class Catalog:
    """catalog-battery: ten catalog entries, each built, planned and run
    into a noop sink, over the committed sf0.01 tables (the same for every
    seed)."""

    def __init__(self, name: str, work: str, seed: int, cpus: int):
        self.tables = gen.catalog_tables()
        self.input_bytes = sum(self.tables.table_bytes.values())
        self.items = len(CATALOG_ENTRIES)
        self._queries = None

    def _fns(self):
        if self._queries is None:
            import __spark_entry__

            self._queries = __spark_entry__.queries()
        return self._queries

    def warmup(self, spark) -> None:
        _noop(self._fns()["tpch_q09_product_profit"](spark, self.tables.sf_dir))

    def prepare(self, spark) -> list[Op]:
        """Check every entry against its DuckDB oracle once, untimed. This
        pass also warms each entry's code path before the timed passes."""
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb_oracle(self.tables.sf_dir)
        ops = []
        for name in CATALOG_ENTRIES:
            t0 = time.perf_counter()
            try:
                df = self._fns()[name](spark, self.tables.sf_dir)
                rows = [tuple(r) for r in df.collect()]
                res = con.sql(oracles[name])
                problem = oracle_problem(
                    df.columns, rows, [d[0] for d in res.description], res.fetchall()
                )
            except Exception:  # noqa: BLE001 - counted as a failed check
                problem = _failure(name)
            ops.append(Op(time.perf_counter() - t0, problem and f"{name}: {problem}"))
        con.close()
        return ops

    def _entry(self, spark, name: str, tracer: Tracer | None = None,
               probe: StageProbe | None = None) -> tuple[Op, dict]:
        """Build, plan and execute one entry; with a tracer, each phase is a
        span and the per-phase numbers come back in the dict."""
        from contextlib import nullcontext

        def span(phase, with_probe=False):
            if tracer is None:
                return nullcontext()
            return tracer.span(f"catalog.{phase}", probe if with_probe else None)

        fn = self._fns()[name]
        t0 = time.perf_counter()
        try:
            with span("build", True) as build:
                df = fn(spark, self.tables.sf_dir)
            with span("plan") as plan:
                executed = df._jdf.queryExecution().executedPlan()
            with span("exec", True) as run:
                _noop(df)
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            return Op(time.perf_counter() - t0, _failure(name)), {}
        op = Op(time.perf_counter() - t0)
        if tracer is None:
            return op, {}
        exchanges, python_nodes = plan_shape(executed.toString())
        return op, {
            "build": build, "plan": plan, "run": run,
            "build_jobs": build.totals.jobs,
            "exec": run.totals,
            "exchanges": exchanges, "python_nodes": python_nodes,
        }

    def run_pass(self, spark) -> list[Op]:
        return [self._entry(spark, name)[0] for name in CATALOG_ENTRIES]

    def pass_metrics(self) -> dict:
        return {}

    def traced_pass(self, spark, tracer: Tracer, probe: StageProbe) -> tuple[float, dict]:
        m: dict[str, float] = {}
        total = StageTotals()
        with tracer.span("pass") as whole:
            for name in CATALOG_ENTRIES:
                with tracer.span(f"entry:{name}"):
                    op, d = self._entry(spark, name, tracer, probe)
                if op.error:
                    raise RuntimeError(f"traced {name} failed: {op.error}")
                m[f"catalog.{name}.build_s"] = d["build"].seconds
                m[f"catalog.{name}.exec_s"] = d["run"].seconds
                for key, value in (
                    ("build_s", d["build"].seconds), ("plan_s", d["plan"].seconds),
                    ("exec_s", d["run"].seconds), ("build_jobs", d["build_jobs"]),
                    ("exchanges", d["exchanges"]), ("python_nodes", d["python_nodes"]),
                ):
                    m[f"catalog.{key}"] = m.get(f"catalog.{key}", 0) + value
                total.add(d["exec"])
        m.update({
            "catalog.jobs": total.jobs,
            "catalog.stages": total.stages,
            "catalog.tasks": total.tasks,
            "catalog.executor_run_ms": total.executor_run_ms,
            "catalog.executor_cpu_ms": total.executor_cpu_ms,
            "catalog.gc_ms": total.gc_ms,
            "catalog.shuffle_read_bytes": total.shuffle_read_bytes,
            "catalog.shuffle_write_bytes": total.shuffle_write_bytes,
            "catalog.spill_bytes": total.spill_bytes,
        })
        return whole.seconds, m


WORKLOADS = {
    "convert-corpus": Ingest,
    "catalog-battery": Catalog,
}
