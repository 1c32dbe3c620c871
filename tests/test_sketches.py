"""Misra-Gries frequent-items sketch (operators/sketches.py), and the
properties the relational family's sketch and statistics entries claim:
KMV and HDR error certificates, the Welch readout."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.sketches import (
    _mg_compress,
    frequent_item_candidates,
    heavy_hitters,
    misra_gries_partials,
)
from archive_to_parquet_spark.queries.relational import (
    _HDR_M,
    _KMV_K,
    eval_ab_welch_ttest,
    sketch_hdr_quantiles,
    sketch_kmv_overlap,
)
from tests.test_plan_shapes import SF_DIR


def test_mg_compress_bound_and_size():
    s = pd.Series({"a": 100, "b": 50, "c": 3, "d": 2, "e": 1})
    out = _mg_compress(s, 2)
    # (k+1)-th largest = 3; survivors strictly above it, reduced by it
    assert out.to_dict() == {"a": 97, "b": 47}
    # under-capacity summaries pass through untouched
    assert _mg_compress(s, 5).to_dict() == s.to_dict()


def _token_df(spark, counts: dict[str, int], partitions: int = 8):
    rows = [(t,) for t, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, ["token"]).repartition(partitions)


def test_partials_are_lower_bounds_capped_at_k(spark):
    counts = {"the": 400, "of": 200, "and": 100} | {
        f"rare{i}": 1 for i in range(500)
    }
    df = _token_df(spark, counts)
    merged = (
        misra_gries_partials(df, "token", 10)
        .groupBy("item")
        .agg(F.sum("lb").alias("lb"))
        .collect()
    )
    got = {r["item"]: r["lb"] for r in merged}
    total = sum(counts.values())
    for item, lb in got.items():
        assert 0 < lb <= counts[item], item
    # MG guarantee: every item with freq > N/(k+1) has a positive bound
    for item, n in counts.items():
        if n > total / 11:
            assert item in got and got[item] >= n - total / 11, item


def test_candidates_superset_of_true_heavies(spark):
    counts = {"x": 900, "y": 300, "z": 120} | {f"t{i}": 2 for i in range(300)}
    df = _token_df(spark, counts, partitions=16)
    cand = {
        r["item"]
        for r in frequent_item_candidates(df, "token", 50).collect()
    }
    total = sum(counts.values())
    for item, n in counts.items():
        if n > total / 51:
            assert item in cand, item


def test_heavy_hitters_equals_exact_answer(spark):
    counts = {"alpha": 500, "beta": 200, "gamma": 30} | {
        f"noise{i}": 1 for i in range(270)
    }
    total = sum(counts.values())
    df = _token_df(spark, counts, partitions=16)
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(df, "token", threshold_denom=10).collect()
    }
    expect = {t: n for t, n in counts.items() if n * 10 > total}
    assert got == expect


def test_snapshot_diff_statuses(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.plans.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["k", "text"]
    )
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, "k", F.md5("text")).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_profile_table_exact_stats(spark):
    from archive_to_parquet_spark.plans.maintenance import profile_table

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (2, "y"), (None, "y")],
        ["a", "b"],
    )
    rows = {r["column_name"]: r for r in profile_table(df, ["a", "b"]).collect()}
    assert rows["a"]["n_rows"] == 4
    assert rows["a"]["n_nulls"] == 1
    assert rows["a"]["n_distinct"] == 2
    assert rows["a"]["min_value"] == "1" and rows["a"]["max_value"] == "2"
    assert rows["b"]["n_nulls"] == 1
    assert rows["b"]["n_distinct"] == 2


def test_kmv_estimate_within_bound_and_sane(spark):
    row = sketch_kmv_overlap(spark, SF_DIR).collect()
    assert len(row) == 1
    r = row[0]
    # the sketch is full (corpus >> k) and the certificate holds
    assert r["k_eff"] == _KMV_K
    assert r["within_bound"] == 1
    # construction: snapshots share doc_id % 5 in {1,2,3} → ~60% of
    # distinct texts; allow for duplicate texts in the corpus
    assert 400_000 <= r["jaccard_exact_ppm"] <= 800_000
    assert 0 <= r["jaccard_est_ppm"] <= 1_000_000
    # set identities on the exact side
    assert r["n_both"] <= min(r["n_a"], r["n_b"])
    assert r["n_union"] <= r["n_a"] + r["n_b"]
    assert r["n_union"] >= max(r["n_a"], r["n_b"])


def test_kmv_is_exact_when_sketch_covers_the_set(spark):
    # at k >= |union| the KMV estimate degenerates to the exact
    # Jaccard: bottom-k IS the set.  Verified via the catalog entry's
    # own exact columns on a corpus smaller than k — here just the
    # identity on the sf0.001 exact values: est counts members of
    # bottom-k(union) in both sides, which for a full sketch is
    # n_both/n_union by definition.
    r = sketch_kmv_overlap(spark, SF_DIR).collect()[0]
    if r["n_union"] <= _KMV_K:  # pragma: no cover - corpus-dependent
        assert r["jaccard_est_ppm"] == r["jaccard_exact_ppm"]


def test_hdr_bracket_certificate_holds(spark):
    rows = sketch_hdr_quantiles(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["bracket_ok"] == 1, r
        # the bracket really does pin the rank-target value
        assert r["n_lt_lo"] < r["target_rank"] <= r["n_le_hi"], r
        # relative bucket width guarantee: width/lo <= 2^-M
        width = r["est_hi"] - r["est_lo"]
        assert width * (1 << _HDR_M) <= r["est_lo"], r


def test_hdr_quantiles_are_ordered(spark):
    rows = {
        r["q_ppm"]: r for r in sketch_hdr_quantiles(spark, SF_DIR).collect()
    }
    assert rows[500_000]["est_lo"] <= rows[900_000]["est_lo"]
    assert rows[900_000]["est_lo"] <= rows[990_000]["est_lo"]


# -- Welch t-test ---------------------------------------------------------


def test_welch_ttest_matches_reference_formula(spark):
    """The entry's integer-moment pipeline must agree with a plain
    float recomputation driver-side (the textbook formula over the
    same filtered rows)."""
    import math

    r = eval_ab_welch_ttest(spark, SF_DIR).collect()[0]
    rows = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 2).alias("arm"), "value")
        .collect()
    )
    arms = {0: [], 1: []}
    for x in rows:
        arms[x["arm"]].append(round(x["value"] * 1000) / 1000.0)
    a, b = arms[0], arms[1]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    ma = sum(a) / len(a)
    mb = sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    t = (ma - mb) / math.sqrt(va / len(a) + vb / len(b))
    q = va / len(a) + vb / len(b)
    df = q * q / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert abs(r["mean_a"] - ma) < 1e-4
    assert abs(r["mean_b"] - mb) < 1e-4
    assert abs(r["t_stat"] - t) < 1e-3
    assert abs(r["df_welch"] - df) < 0.5
    assert r["significant"] == (1 if abs(t) > 1.96 else 0)
    # Welch df is bracketed by min(n)-1 and n_a+n_b-2
    assert min(len(a), len(b)) - 1 <= r["df_welch"] <= len(a) + len(b) - 2
