"""Bucketed co-located join: no Exchange in the plan, same results —
and the maintenance family's entries and layout operators: compaction
and vacuum planning, the constraint suite, the privacy and drift audits,
and the streaming suffix-index compaction."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.profiling import _PSI_BINS
from archive_to_parquet_spark.plans.bucketing import (
    bucketed_join,
    plan_has_exchange,
    write_bucketed,
)
from archive_to_parquet_spark.queries.maintenance import (
    _COMPACT_OVERHEAD,
    _COMPACT_TARGET,
    _LDIV_L,
    _LDIV_SENS_DIV,
    _VACUUM_OVERHEAD,
    _VACUUM_RETAIN,
    audit_constraint_suite,
    eval_psi_drift,
    maintenance_compaction_plan,
    maintenance_vacuum_plan,
    privacy_l_diversity,
)
from archive_to_parquet_spark.streaming.suffix_index import (
    aged_batch_ids,
    compact_suffix_index,
    probe_and_append_prefixes,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    import shutil

    # stale managed-table dirs (e.g. from an interrupted run) block
    # saveAsTable with LOCATION_ALREADY_EXISTS
    for tbl in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    write_bucketed(li.withColumnRenamed("l_orderkey", "okey"), "li_b", "okey", 8)
    write_bucketed(orders.withColumnRenamed("o_orderkey", "okey"), "ord_b", "okey", 8)
    yield "li_b", "ord_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_is_exchange_free(
    spark, bucketed_tables, broadcast_off
):
    lt, rt = bucketed_tables
    # broadcast is off so the plain join below cannot sidestep the
    # shuffle question at this tiny scale
    joined = bucketed_join(spark, lt, rt, "okey")
    # co-located buckets: the join plans with zero shuffle exchanges
    assert not plan_has_exchange(
        joined.select("okey", "l_quantity", "o_totalprice")
    )
    # whereas the plain (unbucketed) join must exchange
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_quantity", "o_totalprice"
    )
    assert plan_has_exchange(plain)


def test_bucketed_join_is_bucket_aligned_smj_at_default_threshold(
    spark, bucketed_tables
):
    """At the session's own broadcast threshold, where the small side of
    a plain join would broadcast, ``bucketed_join`` still plans the
    bucket-aligned sort-merge join over bucketed scans — inner and
    anti alike — so the plan an entry pins is the layout it certifies."""
    lt, rt = bucketed_tables
    for how in ("inner", "left_anti"):
        plan = (
            bucketed_join(spark, lt, rt, "okey", how)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in plan, (how, plan)
        assert "Exchange" not in plan, (how, plan)  # shuffle or broadcast
        assert plan.count("Bucketed: true") == 2, (how, plan)


def test_bucketed_join_results_match_plain(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = bucketed_join(spark, lt, rt, "okey")
    n_bucketed = joined.count()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert n_bucketed == n_plain > 0
    total_b = joined.agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0].s
    plain_j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    total_p = plain_j.agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0].s
    assert total_b == total_p


def test_compact_dataset_reduces_file_count(spark, tmp_path):
    import os

    from archive_to_parquet_spark.plans.maintenance import compact_dataset

    src = str(tmp_path / "small_files")
    out = str(tmp_path / "compacted")
    # 32 small files
    spark.range(0, 100_000).repartition(32).write.parquet(src)
    n = compact_dataset(spark, src, out, target_file_mb=512)
    assert n == 1
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1
    # content identical
    assert (
        spark.read.parquet(out).agg({"id": "sum"}).first()[0]
        == spark.range(0, 100_000).agg({"id": "sum"}).first()[0]
    )


def test_zorder_layout_improves_stat_selectivity(spark, tmp_path):
    import pyarrow.parquet as pq
    import os

    from archive_to_parquet_spark.plans.maintenance import write_zordered

    # two independent uniform dims: a lexicographic sort on x leaves y
    # unsorted (y-ranges span everything); z-order bounds BOTH
    df = spark.range(0, 40_000).selectExpr(
        "id", "CAST(id % 200 AS LONG) AS x", "CAST((id * 7919) % 200 AS LONG) AS y"
    )
    out = str(tmp_path / "zorder")
    write_zordered(df, out, ["x", "y"], bits=8, num_files=16)

    # measure per-file min/max spans of BOTH dims
    spans = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f))
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans.append(((max(xs) - min(xs)), (max(ys) - min(ys))))
    # every file must be selective in both dimensions: strictly narrower
    # than the full 0..199 range on average
    avg_x = sum(s[0] for s in spans) / len(spans)
    avg_y = sum(s[1] for s in spans) / len(spans)
    assert len(spans) == 16
    assert avg_x < 120 and avg_y < 120, (avg_x, avg_y)
    # row count preserved
    assert spark.read.parquet(out).count() == 40_000


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from archive_to_parquet_spark.plans.maintenance import upsert_partitioned

    path = str(tmp_path / "ds")
    base = spark.range(30).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.lit("old").alias("v"),
    )
    base.write.partitionBy("p").parquet(path)

    untouched_files = {
        f: os.path.getmtime(os.path.join(path, "p=0", f))
        for f in os.listdir(os.path.join(path, "p=0"))
        if f.endswith(".parquet")
    }

    # updates touch only p=1 (ids 1, 4 updated; id 301 new)
    updates = spark.createDataFrame(
        [(1, "1", "new"), (4, "1", "new"), (301, "1", "new")],
        ["id", "p", "v"],
    )
    stats = upsert_partitioned(spark, path, updates, key="id", partition_col="p")
    assert stats == {
        "touched_partitions": 1,
        "updated_or_new_rows": 3,
        "kept_rows": 8,  # p=1 had ids 1,4,7,...,28 (10 rows); 2 replaced
    }

    after = spark.read.parquet(path)
    assert after.count() == 31
    got = {
        r["id"]: r["v"] for r in after.filter(F.col("p") == "1").collect()
    }
    assert got[1] == "new" and got[4] == "new" and got[301] == "new"
    assert got[7] == "old" and len(got) == 11

    # untouched partition directory was not rewritten
    now = {
        f: os.path.getmtime(os.path.join(path, "p=0", f))
        for f in os.listdir(os.path.join(path, "p=0"))
        if f.endswith(".parquet")
    }
    assert now == untouched_files


# -- idempotent staging (ensure_bucketed_table, r8) ---------------------------


def test_ensure_bucketed_table_builds_once_and_reregisters(
    spark, tmp_path, broadcast_off
):
    """The pay-the-shuffle-ONCE contract: the first call writes, later
    calls with the same fingerprint never rebuild — even after the
    table vanishes from the catalog (a fresh session) — and the
    re-registered external table still joins exchange-free."""
    import os

    from archive_to_parquet_spark.plans.bucketing import (
        ensure_bucketed_table,
        plan_has_exchange,
    )

    path_a = str(tmp_path / "a")
    path_b = str(tmp_path / "b")
    builds = {"n": 0}

    def build_a():
        builds["n"] += 1
        return spark.range(100).select(
            (F.col("id") % 11).alias("k"), F.col("id").alias("v")
        )

    for tbl in ("ensb_a", "ensb_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    fp = ["v1", [["input", 1, 2]]]
    ensure_bucketed_table(spark, "ensb_a", path_a, "k", 4, build_a, fp)
    assert builds["n"] == 1
    ensure_bucketed_table(spark, "ensb_a", path_a, "k", 4, build_a, fp)
    assert builds["n"] == 1, "same fingerprint must not rebuild"

    # fresh-session simulation: drop ONLY the catalog entry (files stay)
    spark.sql("DROP TABLE ensb_a")
    ensure_bucketed_table(spark, "ensb_a", path_a, "k", 4, build_a, fp)
    assert builds["n"] == 1, "re-registration must be catalog-only"
    assert spark.table("ensb_a").count() == 100

    # the re-registered table keeps the bucket spec: co-bucketed join
    # plans without any shuffle Exchange
    ensure_bucketed_table(
        spark, "ensb_b", path_b, "k", 4,
        lambda: spark.range(11).select(
            (F.col("id") % 11).alias("k"), F.lit("dim").alias("d")
        ),
        fp,
    )
    j = spark.table("ensb_a").join(spark.table("ensb_b"), "k")
    assert not plan_has_exchange(j)
    assert j.count() == 100

    # changed fingerprint (input or recipe) rebuilds
    ensure_bucketed_table(
        spark, "ensb_a", path_a, "k", 4, build_a, ["v2", [["input", 1, 2]]]
    )
    assert builds["n"] == 2, "fingerprint change must rebuild"
    assert os.path.exists(os.path.join(path_a, "_A2PS_BUCKETED_OK"))
    for tbl in ("ensb_a", "ensb_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ensure_bucketed_table_rebuilds_on_bucket_spec_change(spark, tmp_path):
    from archive_to_parquet_spark.plans.bucketing import ensure_bucketed_table

    path = str(tmp_path / "t")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(20).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )

    spark.sql("DROP TABLE IF EXISTS ensb_spec")
    ensure_bucketed_table(spark, "ensb_spec", path, "k", 4, build, ["v1"])
    ensure_bucketed_table(spark, "ensb_spec", path, "k", 8, build, ["v1"])
    assert builds["n"] == 2, "bucket-count change must rebuild"
    assert spark.table("ensb_spec").count() == 20
    spark.sql("DROP TABLE IF EXISTS ensb_spec")


def test_ann_lsh_bucketed_matches_unbucketed_lsh(spark):
    """The bucketed ANN serving path returns EXACTLY what the plain
    lsh_top_k composition returns for the same corpus/query split and
    parameters — the layout changes the physical plan (zero-Exchange
    candidates, held by the entry's plan pin), never the answer. Also
    exercises staging idempotence: the second run reuses the staged
    tables."""
    from archive_to_parquet_spark.operators.similarity import (
        fixed_hyperplanes,
        lsh_top_k,
    )
    from archive_to_parquet_spark.queries.similarity import (
        _ALSHBK_DIM,
        _ALSHBK_K,
        _ALSHBK_PLANES,
        ann_lsh_bucketed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planes = fixed_hyperplanes(_ALSHBK_PLANES, _ALSHBK_DIM)
    want = sorted(
        tuple(r)
        for r in lsh_top_k(
            emb.filter(F.col("vec_id") % 2 == 0),
            emb.filter(F.col("vec_id") % 50 == 25).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            k=_ALSHBK_K,
            multi_probe_bits=2,
            planes=planes,
            round_to=6,
        ).collect()
    )
    got1 = sorted(tuple(r) for r in ann_lsh_bucketed(spark, SF_DIR).collect())
    got2 = sorted(tuple(r) for r in ann_lsh_bucketed(spark, SF_DIR).collect())
    assert got1 == want
    assert got2 == want  # staged-table reuse serves identical results


def test_ensure_parquet_snapshot_builds_once(spark, tmp_path):
    from archive_to_parquet_spark.plans.bucketing import (
        ensure_parquet_snapshot,
    )

    path = str(tmp_path / "snap")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))

    ensure_parquet_snapshot(spark, path, build, ["v1", [["in", 1, 2]]])
    ensure_parquet_snapshot(spark, path, build, ["v1", [["in", 1, 2]]])
    assert builds["n"] == 1, "matching fingerprint must not rebuild"
    assert spark.read.parquet(path).count() == 10
    # changed fingerprint rebuilds in place
    ensure_parquet_snapshot(spark, path, build, ["v2", [["in", 1, 2]]])
    assert builds["n"] == 2
    assert spark.read.parquet(path).count() == 10


# -- constraint suite ----------------------------------------------------


def test_constraint_suite_report_semantics(spark):
    rows = audit_constraint_suite(spark, SF_DIR).collect()
    report = {r["constraint_name"]: r for r in rows}
    assert len(report) == 7
    for r in rows:
        assert 0.0 <= r["metric"] <= 1.0
        want = "pass" if r["metric"] >= r["threshold"] else "fail"
        assert r["status"] == want
    # clean TPC-H-ish data: key unique, categories closed, refs intact
    for name in (
        "completeness_o_custkey",
        "unique_o_orderkey",
        "set_o_orderstatus",
        "format_o_orderpriority",
        "completeness_o_orderdate",
        "ref_o_custkey_in_customer",
    ):
        assert report[name]["status"] == "pass", name
    # the bounds check is DESIGNED to fail: ~10% of prices exceed the
    # 450k cap, under the 0.95 threshold
    bounds = report["bounds_o_totalprice"]
    assert bounds["status"] == "fail"
    assert 0.80 <= bounds["metric"] < 0.95


# -- compaction planning -------------------------------------------------


def test_compaction_plan_binpack_invariants(spark):
    plan = maintenance_compaction_plan(spark, SF_DIR).collect()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("n_chars") + _COMPACT_OVERHEAD).alias("bytes"),
        )
        .collect()
    )
    truth = {r["lang"]: (r["n"], r["bytes"]) for r in docs}
    by_lang: dict[str, list] = {}
    for r in plan:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(truth)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r["bin"])
        # conservation: every file lands in exactly one bin
        assert sum(r["n_files"] for r in bins) == truth[lang][0]
        assert sum(r["total_bytes"] for r in bins) == truth[lang][1]
        # bin ids are strictly increasing from 0 and id-ranges never
        # interleave.  (NOT dense: bin = bytes_before DIV target skips
        # ids whenever one file exceeds ~2x the target, so a density
        # assert would be data-dependent, not algorithmic.)
        ids = [r["bin"] for r in bins]
        assert ids[0] == 0
        assert all(a < b for a, b in zip(ids, ids[1:]))
        for a, b in zip(bins, bins[1:]):
            assert a["last_doc"] < b["first_doc"]
        # greedy closing: a bin only closes once the cumulative bytes
        # cross its boundary, so every non-final bin's running total
        # must reach the next bin's threshold
        cum = 0
        for r in bins[:-1]:
            cum += r["total_bytes"]
            assert cum >= (r["bin"] + 1) * _COMPACT_TARGET
        assert all(r["files_retired"] == r["n_files"] - 1 for r in bins)


# -- PSI drift monitor ----------------------------------------------------


def test_psi_axis_complete_and_total_consistent(spark):
    rows = eval_psi_drift(spark, SF_DIR).collect()
    # the literal axis guarantees all bins present exactly once
    assert sorted(r["bin"] for r in rows) == list(range(_PSI_BINS))
    total = rows[0]["psi_total"]
    assert all(r["psi_total"] == total for r in rows)
    assert abs(total - round(sum(r["psi_term"] for r in rows), 6)) < 1e-9
    # PSI is non-negative term-wise only in expectation; the TOTAL of
    # (p-q)ln(p/q) terms is a sum of non-negative terms since sign(p-q)
    # == sign(ln(p/q)) for each bin
    assert all(r["psi_term"] >= 0.0 for r in rows)
    # even/odd halves of the same distribution: drift must be tiny
    assert total < 0.1


def test_psi_counts_partition_the_events(spark):
    rows = eval_psi_drift(spark, SF_DIR).collect()
    n = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("value").isNotNull())
        .count()
    )
    assert sum(r["ref_n"] + r["cur_n"] for r in rows) == n


# -- vacuum planning -------------------------------------------------------


def test_vacuum_plan_retention_arithmetic(spark):
    plan = {
        (r["source"], r["lang"]): r
        for r in maintenance_vacuum_plan(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    groups: dict[tuple, list] = {}
    for d in docs:
        groups.setdefault((d["source"], d["lang"]), []).append(d)
    assert set(plan) == set(groups)
    for key, members in groups.items():
        members.sort(key=lambda d: -d["doc_id"])
        keep, drop = members[:_VACUUM_RETAIN], members[_VACUUM_RETAIN:]
        r = plan[key]
        assert r["n_files"] == len(members)
        assert r["n_deletable"] == len(drop)
        assert r["bytes_reclaimed"] == sum(
            d["n_chars"] + _VACUUM_OVERHEAD for d in drop
        )
        # the oldest retained version is the smallest doc_id kept
        assert r["oldest_retained"] == min(d["doc_id"] for d in keep)
        # retention never deletes the newest version
        assert max(d["doc_id"] for d in members) >= r["oldest_retained"]


# -- l-diversity -----------------------------------------------------------


def test_l_diversity_thresholds_and_exact_distincts(spark):
    rows = privacy_l_diversity(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    truth: dict[tuple, set] = {}
    sizes: dict[tuple, int] = {}
    for d in docs:
        key = (d["lang"], d["source"])
        truth.setdefault(key, set()).add(d["n_chars"] // _LDIV_SENS_DIV)
        sizes[key] = sizes.get(key, 0) + 1
    assert {(r["lang"], r["source"]) for r in rows} == set(truth)
    for r in rows:
        key = (r["lang"], r["source"])
        assert r["n_sensitive"] == len(truth[key])
        assert r["class_size"] == sizes[key]
        want = "release" if r["n_sensitive"] >= _LDIV_L else "suppress"
        assert r["status"] == want


# -- maintenance_stream_index_compaction ----------------------------------
#
# The oracle sweep certifies the entry's values vs DuckDB; these tests
# pin the properties the operator CLAIMS, driven through the REAL
# streaming writer (probe_and_append_prefixes):
# - probe-equivalence: an anti-join probe returns identical rows against
#   the raw batch-partitioned index and against (compacted base + young
#   tail) — compaction is invisible to queries;
# - idempotence: re-running the fold yields the same base contents;
# - the folded-batch decision is a partition-directory listing
#   (metadata), and it names exactly the batches at/below the watermark;
# - the per-batch persist used inside the writer is RELEASED at the end
#   of each batch (the old localCheckpoint leaked executor storage
#   block-by-block under continuous ingest).

# ≥25-char word-start suffixes required (the _SFX_MIN threshold);
# batches share some long substrings so anti-joins have real work
_DOCS = {
    0: [
        (1, "the quick brown fox jumps over the lazy dog in the morning"),
        (2, "completely unrelated sentence about database compaction"),
    ],
    1: [
        (3, "the quick brown fox jumps over the lazy dog in the evening"),
        (4, "streaming indexes accumulate one partition per micro batch"),
    ],
    2: [
        (5, "bucketed layouts answer probes without any shuffle exchange"),
    ],
    3: [
        (6, "the young tail partition stays out of the compacted base"),
        (7, "streaming indexes accumulate one partition per micro batch"),
    ],
}


_PROBE_DOCS = [
    (8, "the quick brown fox jumps over the lazy dog in the morning"),
    (9, "a genuinely novel sentence that no earlier batch contained"),
    (10, "bucketed layouts answer probes without any shuffle exchange"),
]


@pytest.fixture()
def index_dirs(spark):
    root = tempfile.mkdtemp(prefix="t_sfx_compact_")
    index_dir = os.path.join(root, "index")
    delta_dir = os.path.join(root, "delta")
    for b, rows in _DOCS.items():
        batch = spark.createDataFrame(rows, "doc_id: long, text: string")
        probe_and_append_prefixes(
            spark, batch, index_dir, delta_dir, batch_id=b
        )
    yield root, index_dir, delta_dir
    shutil.rmtree(root, ignore_errors=True)


def _probe_rows(spark, probe_df, stored_pfx):
    return sorted(
        (r["pfx"], r["first_doc"], r["n_suffixes"])
        for r in probe_df.join(stored_pfx, "pfx", "left_anti")
        .groupBy("pfx")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count("*").alias("n_suffixes"),
        )
        .collect()
    )


def test_probe_identical_before_and_after_fold(spark, index_dirs):
    from archive_to_parquet_spark.queries.dedup import _suffix_rows

    root, index_dir, _delta = index_dirs
    probe = _suffix_rows(
        spark.createDataFrame(_PROBE_DOCS, "doc_id: long, text: string")
    ).select("doc_id", "pos", "pfx")

    raw = spark.read.parquet(index_dir).select("pfx")
    before = _probe_rows(spark, probe, raw)
    assert before, "probe batch must introduce at least one new prefix"

    folded = compact_suffix_index(
        spark,
        index_dir,
        "t_sfx_base",
        os.path.join(root, "base"),
        max_batch_id=2,
    )
    assert folded == [0, 1, 2]
    tail = (
        spark.read.parquet(index_dir)
        .filter(F.col("batch_id") > 2)
        .select("pfx")
    )
    compacted = spark.table("t_sfx_base").select("pfx").unionByName(tail)
    after = _probe_rows(spark, probe, compacted)
    assert after == before


def test_fold_is_idempotent_and_base_is_exact_prefix_set(spark, index_dirs):
    root, index_dir, _delta = index_dirs
    compact_suffix_index(
        spark, index_dir, "t_sfx_base_a", os.path.join(root, "ba"),
        max_batch_id=2,
    )
    compact_suffix_index(
        spark, index_dir, "t_sfx_base_b", os.path.join(root, "bb"),
        max_batch_id=2,
    )
    a = sorted(r["pfx"] for r in spark.table("t_sfx_base_a").collect())
    b = sorted(r["pfx"] for r in spark.table("t_sfx_base_b").collect())
    want = sorted(
        r["pfx"]
        for r in spark.read.parquet(index_dir)
        .filter(F.col("batch_id") <= 2)
        .select("pfx")
        .distinct()
        .collect()
    )
    assert a == b == want
    assert len(want) == len(set(want))  # distinct-by-construction


def test_aged_batch_ids_is_a_directory_listing(index_dirs):
    _root, index_dir, _delta = index_dirs
    assert aged_batch_ids(index_dir, 2) == [0, 1, 2]
    assert aged_batch_ids(index_dir, 0) == [0]
    assert aged_batch_ids(index_dir, -1) == []
    assert aged_batch_ids(index_dir, 99) == [0, 1, 2, 3]


def test_writer_releases_batch_persist(spark, index_dirs):
    _root, index_dir, delta_dir = index_dirs
    jsc = spark.sparkContext._jsc.sc()
    # one more batch through the writer: afterwards nothing it cached
    # may remain pinned in executor storage
    before = jsc.getPersistentRDDs().size()
    batch = spark.createDataFrame(
        [(11, "one more batch flowing through the continuous ingest loop")],
        "doc_id: long, text: string",
    )
    probe_and_append_prefixes(spark, batch, index_dir, delta_dir, batch_id=4)
    assert jsc.getPersistentRDDs().size() <= before
