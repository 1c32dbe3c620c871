"""Tests: BPE pair statistics / merge rounds, boilerplate-line removal,
and hard-negative mining."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from archive_to_parquet_spark.operators.tokenize import bpe_pair_counts

    # "low low low lower" — classic BPE example: 'lo' and 'ow' appear in
    # all four words, 'we'/'er' only in "lower"; 1-char word 'a' must
    # contribute no pair at all
    df = spark.createDataFrame(
        [(1, "low low low"), (2, "lower a")], ["doc_id", "text"]
    )
    got = {r["pair"]: r["count"] for r in bpe_pair_counts(df, "text").collect()}
    assert got == {"lo": 4, "ow": 4, "we": 1, "er": 1}


def test_bpe_pair_counts_unicode_chars(spark):
    from archive_to_parquet_spark.operators.tokenize import bpe_pair_counts

    df = spark.createDataFrame([(1, "héé héé")], ["doc_id", "text"])
    got = {r["pair"]: r["count"] for r in bpe_pair_counts(df, "text").collect()}
    # char-indexed substr: pairs are (h,é) and (é,é), counted once per
    # distinct word × freq 2
    assert got == {"hé": 2, "éé": 2}


def test_bpe_merge_rounds_learns_expected_merges(spark):
    from archive_to_parquet_spark.operators.tokenize import bpe_merge_rounds

    # freq(low)=3, freq(lower)=1: round 1 must merge (l, o) or (o, w)
    # — both count 4; tie breaks lexicographically to ('l', 'o');
    # round 2 then sees symbol 'lo' and merges ('lo', 'w') with count 4
    df = spark.createDataFrame([(1, "low low low lower")], ["doc_id", "text"])
    merges = bpe_merge_rounds(df, "text", n_merges=2)
    assert merges[0] == ("l", "o", 4)
    assert merges[1] == ("lo", "w", 4)


def test_remove_boilerplate_lines_drops_hot_lines(spark):
    from archive_to_parquet_spark.operators.dedup import remove_boilerplate_lines

    banner = "accept all cookies"
    docs = [
        (1, f"{banner}\nunique one\n\nfooter"),
        (2, f"{banner}\nunique two\nfooter"),
        (3, f"{banner}\nunique three"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(
            df, min_doc_frequency=3
        ).collect()
    }
    # banner occurs in 3 docs → removed everywhere; "footer" only in 2
    # docs (< min_df) → kept; blank line preserved
    assert out[1]["text_clean"] == "unique one\n\nfooter"
    assert out[2]["text_clean"] == "unique two\nfooter"
    assert out[3]["text_clean"] == "unique three"
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 3


def test_remove_boilerplate_lines_fully_boilerplate_doc(spark):
    from archive_to_parquet_spark.operators.dedup import remove_boilerplate_lines

    docs = [(1, "x"), (2, "x"), (3, "x")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = remove_boilerplate_lines(df, min_doc_frequency=2).collect()
    assert all(r["text_clean"] == "" and r["n_kept"] == 0 for r in out)


def test_hard_negatives_excludes_same_label(spark):
    from archive_to_parquet_spark.operators.similarity import hard_negatives

    # corpus: two labels; vec 0's nearest overall is vec 1 (same label,
    # must be excluded); nearest other-label is vec 2
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),
        (2, [0.9, 0.3], 1),
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    anchors = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    got = hard_negatives(corpus, anchors, k=2, round_to=6).collect()
    assert [(r["neg_id"], r["rank"]) for r in got] == [(2, 1), (3, 2)]
    assert all(r["neg_id"] != 1 for r in got)


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from archive_to_parquet_spark.operators.graph import pagerank

    # symmetrized 3-cycle: perfectly symmetric → every rank stays 1/3
    e = [(a, b) for a, b in [(1, 2), (2, 3), (3, 1)]]
    edges = spark.createDataFrame(e + [(b, a) for a, b in e], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in ranks.values())


def test_pagerank_hub_ranks_highest_and_mass_conserved(spark):
    from archive_to_parquet_spark.operators.graph import pagerank

    # symmetrized star: hub 0 with leaves 1..4 — hub must dominate and,
    # with no dangling nodes, total mass stays 1
    e = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(e + [(i, 0) for i in range(1, 5)], ["src", "dst"])
    rows = pagerank(edges, n_iter=10).collect()
    ranks = {r["node"]: r["rank"] for r in rows}
    assert max(ranks, key=ranks.get) == 0
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # leaves are symmetric → identical ranks
    leaf = [v for k, v in ranks.items() if k != 0]
    assert max(leaf) - min(leaf) < 1e-12


def test_pagerank_source_only_node_gets_base_mass(spark):
    """A node with out-edges but NO in-edge exercises the general
    (per-round left join) path the round-12 in-coverage fast path must
    fall back to — its rank is the base mass every round."""
    from archive_to_parquet_spark.operators.graph import pagerank

    # 3 → 1 ⇄ 2: node 3 has an out-edge but never appears as dst
    edges = spark.createDataFrame(
        [(3, 1), (1, 2), (2, 1)], ["src", "dst"]
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=1).collect()}
    base = 0.15 / 3
    assert abs(ranks[3] - base) < 1e-12
    assert abs(ranks[1] - (base + 0.85 * (2 / 3))) < 1e-12
    assert abs(ranks[2] - (base + 0.85 * (1 / 3))) < 1e-12


def test_pagerank_rejects_dangling_nodes(spark):
    import pytest

    from archive_to_parquet_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])  # 2 has no out
    with pytest.raises(ValueError, match="out-edge"):
        pagerank(edges, n_iter=1)


def test_dedup_against_index_incremental(spark):
    from archive_to_parquet_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different text about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    index = minhash_band_index(corpus)
    batch = spark.createDataFrame(
        [
            # near-dup of doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat today"),
            (11, "nothing like anything in the existing corpus at all"),
        ],
        ["doc_id", "text"],
    )
    pairs, new_index = dedup_against_index(
        batch, index, jaccard_threshold=0.3
    )
    got = [(r["new_id"], r["index_id"]) for r in pairs.collect()]
    assert got == [(10, 1)]
    # the returned batch index appends cleanly onto the existing one
    assert new_index.columns == index.columns
    merged = index.unionByName(new_index)
    assert merged.select("id").distinct().count() == 4
