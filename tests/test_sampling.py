"""Deterministic sampling/split operators, and the text family's
sampling, mixing and evaluation entries (Neyman allocation, temperature
weights, binned ROC-AUC)."""

from pyspark.sql import functions as F

from archive_to_parquet_spark.queries.text import (
    _AUC_BIN_CAP,
    _AUC_BIN_DIV,
    _MIX_BUDGET,
    _NEYMAN_BUDGET,
    eval_auc_quality,
    mix_temperature_sampling,
    sample_stratified_neyman,
)
from tests.test_plan_shapes import SF_DIR


def test_hash_sample_deterministic_and_unbiased(spark):
    from archive_to_parquet_spark.operators.sampling import hash_sample

    df = spark.range(20000).withColumnRenamed("id", "k")
    a = hash_sample(df, "k", 0.3, seed="s1")
    n = a.count()
    assert abs(n / 20000 - 0.3) < 0.02
    # identical membership regardless of partitioning
    b = hash_sample(df.repartition(7), "k", 0.3, seed="s1")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # independent seeds give (nearly) independent samples
    c = hash_sample(df, "k", 0.3, seed="s2")
    inter = a.join(c, "k", "semi").count()
    assert abs(inter / 20000 - 0.09) < 0.02


def test_hash_split_partitions_rows(spark):
    from archive_to_parquet_spark.operators.sampling import hash_split_col

    df = spark.range(20000).withColumnRenamed("id", "k")
    out = df.select(
        "k", hash_split_col("k", {"train": 0.8, "val": 0.1, "test": 0.1}).alias("s")
    )
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01


def test_stratified_sample_rates(spark):
    from archive_to_parquet_spark.operators.sampling import stratified_sample

    df = spark.range(30000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = df.filter(
        stratified_sample("k", "g", {"0": 0.5, "1": 0.1}, default_rate=0.0)
    )
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["0"] / 10000 - 0.5) < 0.03
    assert abs(counts["1"] / 10000 - 0.1) < 0.02
    assert "2" not in counts  # default rate 0 drops the stratum entirely


def test_rate_edges(spark):
    import pytest

    from archive_to_parquet_spark.operators.sampling import (
        hash_sample,
        hex_threshold,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    assert hash_sample(df, "k", 1.0).count() == 100
    assert hash_sample(df, "k", 0.0).count() == 0
    assert hex_threshold(0.0) == "00000000"
    with pytest.raises(ValueError):
        hex_threshold(1.5)


def test_pack_sequences_layout(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.operators.sampling import pack_sequences

    rows = [
        (1, "a", 600), (2, "a", 600), (3, "a", 900),   # shard a: 0,600,1200
        (4, "b", 2100), (5, "b", 0), (6, "b", 50),     # shard b: big doc + empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, shard string, nt long")
    out = {
        r.doc_id: r.asDict()
        for r in pack_sequences(df, "doc_id", "nt", 1000, "shard").collect()
    }
    # doc 2 starts at 600, ends at 1199 -> straddles the 1000 cut
    assert out[2]["token_offset"] == 600
    assert (out[2]["start_chunk"], out[2]["end_chunk"]) == (0, 1)
    assert out[2]["spans_boundary"] == 1
    # doc 3 starts exactly at 1200 in chunk 1, ends 2099 -> chunks 1..2
    assert out[3]["offset_in_chunk"] == 200
    assert (out[3]["start_chunk"], out[3]["end_chunk"]) == (1, 2)
    # shards are independent: doc 4 starts at 0 despite shard a's totals
    assert out[4]["token_offset"] == 0
    assert (out[4]["start_chunk"], out[4]["end_chunk"]) == (0, 2)
    # empty doc occupies no tokens: start == end chunk, no straddle
    assert out[5]["spans_boundary"] == 0
    assert out[5]["start_chunk"] == out[5]["end_chunk"] == 2


def test_global_shuffle_rank_is_partition_invariant_permutation(spark):
    import hashlib

    from archive_to_parquet_spark.operators.sampling import global_shuffle_rank

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    out4 = {
        r.doc_id: r.shuffle_pos
        for r in global_shuffle_rank(df, "doc_id", num_partitions=4).collect()
    }
    out13 = {
        r.doc_id: r.shuffle_pos
        for r in global_shuffle_rank(df, "doc_id", num_partitions=13).collect()
    }
    # exact permutation of 0..n-1, invariant to the partition count
    assert sorted(out4.values()) == list(range(97))
    assert out4 == out13
    # matches an independent single-threaded rank of the same md5 keys
    expected_order = sorted(
        range(97),
        key=lambda i: (hashlib.md5(f"shuffle{i}".encode()).hexdigest(), i),
    )
    assert [out4[i] for i in expected_order] == list(range(97))


def test_sample_fixed_per_group_exact_counts(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.operators.sampling import (
        sample_fixed_per_group,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(100)], ["id", "g"]
    )
    out = sample_fixed_per_group(df, "g", 10, "id", seed="s1")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    # exact quota from both groups (80 and 20 rows, both capped at 10)
    assert counts == {"big": 10, "small": 10}
    # deterministic: same seed → same rows; different seed → (almost surely) different
    a = {r["id"] for r in out.collect()}
    b = {r["id"] for r in sample_fixed_per_group(df, "g", 10, "id", seed="s1").collect()}
    c = {r["id"] for r in sample_fixed_per_group(df, "g", 10, "id", seed="s2").collect()}
    assert a == b and a != c
    # under-full groups keep everything
    tiny = sample_fixed_per_group(df.filter("id < 3"), "g", 10, "id")
    assert tiny.count() == 3


# -- Neyman stratified sampling -------------------------------------------


def test_neyman_allocation_and_draw_invariants(spark):
    rows = sample_stratified_neyman(spark, SF_DIR).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    total = sum(len(v) for v in by_lang.values())
    # rounding can drift the total a little around the budget
    assert 0.9 * _NEYMAN_BUDGET <= total <= 1.1 * _NEYMAN_BUDGET
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.stddev_samp("n_chars").alias("sd"))
        .collect()
    )
    truth = {r["lang"]: r for r in docs}
    assert set(by_lang) <= set(truth)
    shares = {
        r["lang"]: r["n"] * r["sd"]
        for r in docs
    }
    w_tot = sum(shares.values())
    for lang, drawn in by_lang.items():
        alloc = drawn[0]["alloc_h"]
        # every stratum draws exactly its allocation (capped by size)
        assert len(drawn) == min(alloc, truth[lang]["n"])
        assert sorted(r["stratum_rank"] for r in drawn) == list(
            range(1, len(drawn) + 1)
        )
        # allocation tracks the Neyman share within rounding
        want = _NEYMAN_BUDGET * shares[lang] / w_tot
        assert abs(alloc - want) <= 1.0 or alloc == 1


# -- exact binned ROC-AUC --------------------------------------------------


def test_auc_matches_brute_force_pair_count(spark):
    row = eval_auc_quality(spark, SF_DIR).collect()[0]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.least(
            F.expr(f"n_chars DIV {_AUC_BIN_DIV}"), F.lit(_AUC_BIN_CAP)
        ).alias("s"),
        (F.col("lang") == "en").alias("pos"),
    ).collect()
    pos = sorted(r["s"] for r in docs if r["pos"])
    neg = sorted(r["s"] for r in docs if not r["pos"])
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    # brute-force Mann-Whitney with ties counted 1/2
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row["auc"] - expect) < 1e-6
    assert 0.0 <= row["auc"] <= 1.0


# -- temperature mixing ----------------------------------------------------


def test_temperature_weights_normalize_and_upsample_small_langs(spark):
    rows = mix_temperature_sampling(spark, SF_DIR).collect()
    assert abs(sum(r["p_natural"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["q_sampling"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        # sqrt temperature: q ∝ sqrt(n) — epochs = q*budget/n.  The
        # column uses the UNROUNDED ratio while q_sampling is 6dp, so
        # the recomputation tolerance is the rounding step amplified by
        # budget/n (0.5e-6 * 100k / n ≈ 7e-4 at sf0.001 group sizes).
        assert abs(
            r["effective_epochs"] - r["q_sampling"] * _MIX_BUDGET / r["n_docs"]
        ) < 1e-6 * _MIX_BUDGET / r["n_docs"]
    # the defining property of temperature sampling: relative to the
    # natural distribution, the smallest language is upsampled and the
    # largest is downsampled (strict when the sizes differ)
    smallest = min(rows, key=lambda r: r["n_docs"])
    largest = max(rows, key=lambda r: r["n_docs"])
    if smallest["n_docs"] < largest["n_docs"]:
        assert smallest["q_sampling"] > smallest["p_natural"] - 1e-9
        assert largest["q_sampling"] < largest["p_natural"] + 1e-9
    # q ordering follows n ordering (sqrt is monotone)
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    qs = [r["q_sampling"] for r in by_n]
    assert qs == sorted(qs)
