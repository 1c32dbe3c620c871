"""Semantic invariants for the retrieval / LM / mixing operators and the
similarity family's hybrid RRF, MRR and DBSCAN-LSH entries.

The DuckDB oracle (tools/check_correctness.py) proves cross-engine value
equality; these tests pin the semantics themselves on tiny hand-built
corpora where the right answer is known by inspection.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from archive_to_parquet_spark.queries.similarity import (
    _HYB_DEPTH,
    _HYB_OUT,
    _RRF_K,
    search_hybrid_rrf,
)
from tests.test_plan_shapes import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, text, "en", "src0", len(text)) for i, text in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_bm25_ranks_exact_match_first(spark, tmp_path, monkeypatch):
    """A doc containing all three rare query terms outranks docs with
    one common term; scores are monotone in matched-term count here
    because tf/dl are constant across these docs."""
    from archive_to_parquet_spark.queries.similarity import search_bm25

    docs = _docs(
        spark,
        [
            "spark shuffle join alpha beta",  # all three terms
            "spark gamma delta epsilon zeta",  # one term
            "eta theta iota kappa lambda",  # zero terms
            "shuffle mu nu xi omicron",  # one term
        ],
    )
    out = tmp_path / "documents.parquet"
    docs.coalesce(1).write.parquet(str(out))
    # point the catalog at the tiny corpus: sf_dir/<name>.parquet layout
    res = search_bm25(spark, str(tmp_path).replace("documents.parquet", ""))
    rows = [
        r
        for r in res.collect()
        if r.query_id == "q_shuffle"
    ]
    assert rows, "query q_shuffle returned no rows"
    best = min(rows, key=lambda r: r.rank)
    assert best.doc_id == 0
    # doc 2 has no query term: must be absent
    assert all(r.doc_id != 2 for r in rows)
    # ranks are 1..n with no gaps
    assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))


def test_bm25_top10_per_query_at_sf(spark):
    from archive_to_parquet_spark.queries.similarity import search_bm25

    res = search_bm25(spark, SF_DIR)
    per = {
        r["query_id"]: r["n"]
        for r in res.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per) == {"q_shuffle", "q_scan", "q_sort"}
    assert all(n <= 10 for n in per.values())
    # scores weakly decrease with rank within a query
    rows = res.orderBy("query_id", "rank").collect()
    for a, b in zip(rows, rows[1:]):
        if a.query_id == b.query_id:
            assert a.score >= b.score


def test_lm_bigram_score_prefers_repeated_sequences(spark, tmp_path):
    """Docs made of corpus-frequent bigrams score higher than a doc of
    bigrams seen once."""
    from archive_to_parquet_spark.queries.text import lm_bigram_score

    common = "the quick fox"
    docs = _docs(spark, [common, common, common, "zeta omega prime"])
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in lm_bigram_score(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0].avg_logp == got[1].avg_logp == got[2].avg_logp
    assert got[0].avg_logp > got[3].avg_logp
    assert got[0].n_bigrams == 2  # "the quick", "quick fox"


def test_mix_weights_flattens_distribution(spark, tmp_path):
    """alpha=0.5 reweighting sits between natural share and uniform:
    small domains gain, large domains shrink, weights sum to 1."""
    from archive_to_parquet_spark.queries.text import mix_weights

    rows = [(i, "tok " * (900 if i < 10 else 100), "en", "big" if i < 10 else "small", 0) for i in range(20)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in mix_weights(spark, str(tmp_path)).collect()}
    assert abs(got["big"].weight + got["small"].weight - 1.0) < 1e-6
    assert got["small"].weight > got["small"].p_natural  # upweighted
    assert got["big"].weight < got["big"].p_natural  # downweighted
    assert got["big"].weight > got["small"].weight  # order preserved
    assert got["big"].n_tokens == 9000 and got["small"].n_tokens == 1000


def test_recursive_cte_depth_counts(spark):
    """Binary-heap tree over 0-based suppkeys: depth 0 is the root {0};
    depth d ≥ 1 holds exactly the keys in [2^(d-1), 2^d) ∩ [1, n-1]."""
    from archive_to_parquet_spark.queries.relational import rel_recursive_cte

    res = {r.depth: r.n for r in rel_recursive_cte(spark, SF_DIR).collect()}
    n_supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet").count()
    assert sum(res.values()) == n_supp
    assert res[0] == 1
    for d, n in res.items():
        if d == 0:
            continue
        lo, hi = 2 ** (d - 1), min(2**d - 1, n_supp - 1)
        assert n == hi - lo + 1


def test_char_entropy_known_values(spark, tmp_path):
    """H('aaaa')=0; H('abab')=ln 2; uniform 4-char doc = ln 4."""
    from archive_to_parquet_spark.queries.text import text_char_entropy

    docs = _docs(spark, ["aaaa", "abab", "abcd"])
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in text_char_entropy(spark, str(tmp_path)).collect()}
    assert got[0].entropy_nats == 0.0
    assert got[1].entropy_nats == pytest.approx(math.log(2), abs=1e-4)
    assert got[2].entropy_nats == pytest.approx(math.log(4), abs=1e-4)
    assert got[0].n_chars == 4 and got[0].n_distinct == 1
    assert got[2].n_distinct == 4


# -- hybrid RRF ----------------------------------------------------------


def test_hybrid_rrf_fusion_arithmetic_and_shape(spark):
    rows = search_hybrid_rrf(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # query set is exactly the every-100th example docs
    assert all(qid % 100 == 50 for qid in by_q)
    lo = round(1.0 / (_RRF_K + _HYB_DEPTH), 6)  # one leg, worst rank
    hi = round(2.0 / (_RRF_K + 1), 6)  # both legs, rank 1
    for qid, hits in by_q.items():
        assert len(hits) == _HYB_OUT
        assert sorted(h["rank"] for h in hits) == list(range(1, _HYB_OUT + 1))
        # no self-hits survive either leg
        assert all(h["doc_id"] != qid for h in hits)
        # rank order follows the fused score (doc_id breaks ties)
        ordered = sorted(hits, key=lambda h: (-h["rrf_score"], h["doc_id"]))
        assert [h["rank"] for h in ordered] == list(range(1, _HYB_OUT + 1))
        for h in hits:
            assert lo <= h["rrf_score"] <= hi
            # a doc found by both systems always outranks a single-leg
            # score floor; a single-leg doc can never exceed 1/(k+1)
            if h["src"] == "both":
                assert h["rrf_score"] >= round(2.0 / (_RRF_K + _HYB_DEPTH), 6)
            else:
                assert h["rrf_score"] <= round(1.0 / (_RRF_K + 1), 6)


def test_dbscan_lsh_exact_twin_agreement(spark):
    """The LSH dbscan's confirmed pairs are a subset of the exact
    ε-graph, so every LSH cluster must sit inside one exact cluster
    (the banded generator can only MISS edges, never invent them)."""
    from archive_to_parquet_spark.queries import _CATALOG

    lsh = {
        r["vec_id"]: r["cluster"]
        for r in _CATALOG["cluster_dbscan_lsh"][0](spark, SF_DIR).collect()
        if r["cluster"] != -1
    }
    exact = {
        r["vec_id"]: r["cluster"]
        for r in _CATALOG["cluster_dbscan"][0](spark, SF_DIR).collect()
        if r["cluster"] != -1
    }
    # map each LSH cluster to the set of exact clusters its members
    # land in; noise-in-exact members would be a contradiction only if
    # exact says noise while LSH says clustered with MORE evidence —
    # impossible, so every clustered-LSH point is clustered-exact
    from collections import defaultdict

    spread = defaultdict(set)
    for vid, c in lsh.items():
        assert vid in exact, f"LSH clustered {vid} but exact calls it noise"
        spread[c].add(exact[vid])
    for c, targets in spread.items():
        assert len(targets) == 1, (
            f"LSH cluster {c} spans exact clusters {targets}"
        )


# -- MRR ---------------------------------------------------------------------


def test_mrr_first_relevant_rank_brute_force(spark):
    from pyspark.sql import functions as F

    from archive_to_parquet_spark.queries.similarity import _BM25_QUERIES, search_bm25
    from archive_to_parquet_spark.queries.similarity import eval_mrr_bm25

    rows = {r["query_id"]: r for r in eval_mrr_bm25(spark, SF_DIR).collect()}
    assert set(rows) == {qid for qid, _ in _BM25_QUERIES}
    ranked = search_bm25(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.lower("text").alias("lt")
    ).collect()
    for qid, terms in _BM25_QUERIES:
        rel = {d["doc_id"] for d in docs if all(t in d["lt"] for t in terms)}
        ranks = sorted(
            r["rank"] for r in ranked
            if r["query_id"] == qid and r["doc_id"] in rel
        )
        r = rows[qid]
        if ranks:
            assert r["first_rel_rank"] == ranks[0]
            assert abs(r["rr"] - round(1.0 / ranks[0], 6)) < 1e-9
        else:
            assert r["first_rel_rank"] == 0 and r["rr"] == 0.0
