"""Tests of the benchmark's own pieces: seeded inputs, the correctness
checks, the stage probe, and a whole run's effect on the working tree.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

import inputs
from checks import check_ingest, oracle_problem
from conftest import BENCH, ROOT
from probe import StageProbe, plan_shape
from spans import Tracer


@pytest.fixture
def small_corpus(monkeypatch):
    """Shrink the corpora so a test generates them in well under a second."""
    monkeypatch.setattr(inputs, "CONVERT_TOTAL_BYTES", 3 * inputs.MiB)
    monkeypatch.setattr(inputs, "ENTRY_MAX", 512 * 1024)
    monkeypatch.setattr(inputs, "CONVERT_MAX_SIZE", 64 * 1024)


def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path, small_corpus):
    a, b, c = (inputs.convert_corpus(str(tmp_path / d), seed, 1)
               for d, seed in (("a", 7), ("b", 7), ("c", 8)))
    da, db, dc = (_digest_tree(os.path.dirname(os.path.dirname(r.paths[0])))
                  for r in (a, b, c))
    assert da == db
    assert da != dc


def test_cache_keeps_one_seed_per_workload(tmp_path, small_corpus):
    inputs.convert_corpus(str(tmp_path), 1, 1)
    inputs.convert_corpus(str(tmp_path), 2, 1)
    inputs.warmup_archives(str(tmp_path), 1)
    assert sorted(os.listdir(tmp_path / "inputs")) == [
        f"convert-corpus-s2-c1-v{inputs.GEN_VERSION}",
        f"warmup-s0-c1-v{inputs.GEN_VERSION}",
    ]


def test_catalog_reads_the_committed_tables():
    """Every table the ten entries read is committed with the benchmark."""
    tables = inputs.catalog_tables()
    assert set(tables.table_bytes) == {
        "documents", "embeddings", "lineitem", "nation", "orders", "part", "supplier",
    }
    assert pq.ParquetFile(os.path.join(tables.sf_dir, "documents.parquet")).metadata.num_rows == 500


def test_convert_corpus_manifest_matches_the_archives(tmp_path, small_corpus):
    """The expected entries are re-derived here with tarfile and zipfile, so
    the manifest agrees with the archives actually written."""
    import gzip
    import io
    import tarfile
    import zipfile

    corpus = inputs.convert_corpus(str(tmp_path), 3, 1)
    found = []
    for path in corpus.paths:
        with open(path, "rb") as fh:
            raw = fh.read()
        if path.endswith(".zip"):
            with zipfile.ZipFile(io.BytesIO(raw)) as zf:
                found += [(path, n, zf.read(n)) for n in zf.namelist()]
            continue
        if path.endswith(".tar.zst"):
            raw = subprocess.run(["zstd", "-d", "-q", "-c"], input=raw,
                                 stdout=subprocess.PIPE, check=True).stdout
        else:
            raw = gzip.decompress(raw)
        with tarfile.open(fileobj=io.BytesIO(raw)) as tf:
            for m in tf.getmembers():
                data = tf.extractfile(m).read()
                if m.name.endswith(".zip"):
                    with zipfile.ZipFile(io.BytesIO(data)) as zf:
                        found += [(path, f"{m.name}/{n}", zf.read(n)) for n in zf.namelist()]
                else:
                    found.append((path, m.name, data))
    rebuilt = sorted((s, p, len(d), hashlib.sha256(d).hexdigest()) for s, p, d in found)
    assert rebuilt == sorted(corpus.entries)
    kinds = {os.path.basename(p).split(".", 1)[1] for p in corpus.paths}
    assert kinds == {"tar.gz", "tar.zst", "zip"}
    assert any("/inner.zip/" in e[1] for e in corpus.entries)
    assert len({e[3] for e in corpus.entries}) < len(corpus.entries)  # duplicates exist
    assert any(e[2] >= corpus.max_size for e in corpus.entries)  # the filter has work


@pytest.fixture
def converted(tmp_path, small_corpus, spark):
    from archive_to_parquet_spark.options import ConvertOptions
    from archive_to_parquet_spark.plans.convert import convert

    corpus = inputs.convert_corpus(str(tmp_path / "work"), 4, 1)
    out = str(tmp_path / "out")
    convert(spark, corpus.paths, out,
            ConvertOptions(threads=2, unique=True, max_size=corpus.max_size))
    return corpus, out


def _rewrite(out: str, edit) -> None:
    table = pq.read_table(out)
    shutil.rmtree(out)
    os.makedirs(out)
    pq.write_table(edit(table), os.path.join(out, "part-0.parquet"))


def test_check_accepts_the_program_output(converted):
    corpus, out = converted
    assert check_ingest(out, corpus) == []


def test_one_flipped_content_byte_fails_the_check(converted):
    import pyarrow as pa

    corpus, out = converted

    def flip(table):
        content = table.column("content").to_pylist()
        content[0] = bytes([content[0][0] ^ 1]) + content[0][1:]
        i = table.column_names.index("content")
        return table.set_column(i, "content", pa.array(content, pa.binary()))

    _rewrite(out, flip)
    assert any("does not match" in p for p in check_ingest(out, corpus))


def test_one_dropped_row_fails_the_check(converted):
    corpus, out = converted
    _rewrite(out, lambda t: t.slice(1))
    assert any("missing" in p for p in check_ingest(out, corpus))


def test_oracle_comparison_sees_a_changed_value():
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, 3.0)]
    assert oracle_problem(cols, rows, ["v", "k"], [(3.0, 2), (2.5, 1)]) is None
    assert "value hash" in oracle_problem(cols, rows, cols, [(1, 2.5), (2, 3.5)])
    assert "row count" in oracle_problem(cols, rows, cols, rows[:1])


def test_back_to_back_brackets_get_disjoint_stages(spark):
    probe = StageProbe(spark)
    idle = probe.since(probe.mark())
    assert idle is not None and idle.stages == 0  # nothing ran in between
    a_mark = probe.mark()
    spark.range(1000, numPartitions=3).selectExpr("id % 7 k").groupBy("k").count().collect()
    a = probe.since(a_mark)
    b_mark = probe.mark()
    spark.range(100, numPartitions=2).count()
    b = probe.since(b_mark)
    assert a.jobs >= 1 and b.jobs >= 1
    assert a.stage_ids and b.stage_ids
    assert max(a.stage_ids) < min(b.stage_ids)
    assert a.shuffle_write_bytes > 0


def test_an_unreadable_mark_is_unknown_not_a_total(spark):
    probe = StageProbe(spark)
    spark.range(10).count()
    assert probe.since(None) is None


def test_unknown_stage_totals_are_not_reported_as_zero():
    t = Tracer("t")
    with t.span("bracket") as s:
        pass  # as if the probe could not read the status store
    with pytest.raises(RuntimeError, match="unknown"):
        s.totals


def test_span_self_time_excludes_children():
    t = Tracer("t")
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    self_times = t.self_times()
    assert self_times[inner.id] == pytest.approx(inner.seconds)
    assert self_times[outer.id] == pytest.approx(outer.seconds - inner.seconds)
    assert inner.parent == outer.id and outer.parent is None


def test_plan_shape_counts_exchanges_and_python_nodes():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[k])\n"
        "   +- Exchange hashpartitioning(k, 4)\n"
        "      +- MapInArrow walk_partition(input_path)\n"
    )
    assert plan_shape(plan) == (1, 1)


def test_benchmark_json_lists_each_metric_once():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == {"convert-corpus", "catalog-battery"}
    assert spec["paths"] == ["perfbench"]


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "convert-corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def _tree_state() -> tuple[str, dict[str, str]]:
    status = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=all"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return status, _digest_tree(os.path.join(ROOT, "DRIVER_TRACE"))


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, ".git")), reason="needs a git checkout")
def test_a_run_leaves_the_git_tree_unchanged():
    """A whole benchmark run writes only under its ignored work directory:
    no catalog result traces, no untracked or modified files."""
    before = _tree_state()
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog-battery",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.splitlines()[-1])["correct"] is True
    assert _tree_state() == before


def test_a_failed_check_fails_the_command(monkeypatch, capsys):
    import run

    def failing_run(self):
        self.attempted, self.failed = 2, 1
        self.problems.append("convert: output differs")
        self.metrics.update({m["name"]: 1.0 for m in run.spec()["end_to_end"]})
        self.metrics["query_s_p50"] = 1.0

    monkeypatch.setattr(run.Bench, "run", failing_run)
    code = run.main(["--workload", "convert-corpus", "--seed", "1", "--seconds", "1"])
    result = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert code != 0
    assert result["correct"] is False and result["failed"] == 1
