"""The layered profiler and the bench that records it, on the suite's
session: counted layers repeat across runs, the build's jobs split out
of the totals, the plan shape is the pinned whole-computation audit,
and one named entry comes back with its wall time and counted fields."""

import json
import os

import pytest

import bench
from archive_to_parquet_spark import queries as q
from archive_to_parquet_spark.observability import profile
from archive_to_parquet_spark.plans.audit import pin_of
from tests.test_plan_shapes import REPO, SF_DIR

COUNTS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def test_profile_counts_checkpoint_jobs_and_repeats(spark):
    """graph_pagerank checkpoints every round while it is built: the
    bracket opens before the build, so those jobs count on top of the
    execute's and split out as the build's, and a second profile counts
    the same work."""

    def build():
        return q.queries()["graph_pagerank"](spark, SF_DIR)

    first, second = profile(spark, build), profile(spark, build)
    assert first.build_totals.jobs >= 1
    assert first.totals.jobs > first.build_totals.jobs
    assert first.totals.stages >= first.build_totals.stages >= 1
    assert first.record()["build_jobs"] == first.build_totals.jobs
    assert first.build_s > 0 and first.exec_s > 0
    counts = [tuple(getattr(p.totals, k) for k in COUNTS) for p in (first, second)]
    assert counts[0] == counts[1], counts
    assert first.plan == second.plan

    built = build()
    execute_only = profile(spark, lambda: built)
    assert first.totals.jobs > execute_only.totals.jobs >= 1
    assert execute_only.build_totals.jobs == 0


@pytest.mark.parametrize("name", ["dedup_near_clusters", "cluster_dbscan"])
def test_profile_plan_is_the_pinned_shape(spark, name):
    """Both entries checkpoint while they are built, so their final
    plan alone shows a fraction of their shuffles (and, for
    cluster_dbscan, not its nested-loop join): the profile's plan must
    be the whole computation PLAN_PINS.json pins."""
    with open(os.path.join(REPO, "PLAN_PINS.json")) as fh:
        pinned = json.load(fh)["entries"][name]
    got = profile(spark, lambda: q.queries()[name](spark, SF_DIR))
    assert pin_of(got.plan) == pinned


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
