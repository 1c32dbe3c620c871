"""The layered profiler and the bench that records it, on the suite's
session: counted layers repeat across runs, and one named entry comes
back with its wall time and counted fields."""

import pytest

import bench
from archive_to_parquet_spark import queries as q
from archive_to_parquet_spark.observability import profile
from tests.test_plan_shapes import SF_DIR

COUNTS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def test_profile_counts_checkpoint_jobs_and_repeats(spark):
    """graph_pagerank checkpoints every round while it is built: the
    bracket opens before the build, so those jobs count on top of the
    execute's, and a second profile counts the same work."""

    def build():
        return q.queries()["graph_pagerank"](spark, SF_DIR)

    first, second = profile(spark, build), profile(spark, build)
    assert first.totals.jobs >= 1
    assert first.build_s > 0 and first.exec_s > 0
    counts = [tuple(getattr(p.totals, k) for k in COUNTS) for p in (first, second)]
    assert counts[0] == counts[1], counts
    assert first.plan == second.plan

    built = build()
    execute_only = profile(spark, lambda: built)
    assert first.totals.jobs > execute_only.totals.jobs >= 1


def test_time_entry_records_wall_and_counted_fields(spark):
    rec = bench.time_entry(
        spark, lambda: q.queries()["rel_pricing_summary"](spark, SF_DIR)
    )
    assert rec["wall_s"] > 0
    for field in bench.COUNTED:
        assert rec[field] is not None, field
    assert rec["jobs"] >= 1 and rec["tasks"] >= rec["stages"] >= 1
    assert rec["repeat"] is (rec.get("moved") is None)


def test_artifact_name_is_keyed_on_cpus_and_sf(monkeypatch):
    assert bench.sf_of("/data/sf0.01/") == 0.01
    assert bench.artifact_name(4, 0.01) == "BENCH_FULL.c4.sf0.01.json"
    assert bench.artifact_name(32, 0.1) == "BENCH_FULL.c32.sf0.1.json"
    assert bench.artifact_name(4, bench.sf_of("/data/sf1")) == "BENCH_FULL.c4.sf1.json"
    # a tables dir not named sf<number> is refused before anything runs
    for bad in ("/data/tables", "/data/sf_small", "/sf0.1/tables"):
        with pytest.raises(ValueError):
            bench.sf_of(bad)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/tables")
    assert bench.main([]) == 2
