"""Unit tests for catalog entries across families: URL canonicalization
edge cases, corpus-format round-trips on adversarial strings, quarantine
routing, and decayed-sum math."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.web import canonicalize_url
from archive_to_parquet_spark.queries.parity import (
    parse_quarantine,
    source_csv_roundtrip,
    source_jsonl_roundtrip,
)


def _canon(spark, url: str) -> str:
    return (
        spark.createDataFrame([(url,)], "u string")
        .select(canonicalize_url(F.col("u")).alias("c"))
        .collect()[0]
        .c
    )


def test_canonicalize_url_cases(spark):
    cases = {
        # case + default port + tracking params
        "HTTPS://WWW.Example.COM:443/A/B?utm_source=x&utm_medium=y": "https://www.example.com/A/B",
        # http default port
        "http://a.com:80/x": "http://a.com/x",
        # non-default port preserved
        "https://a.com:8443/x": "https://a.com:8443/x",
        # fragment dropped, trailing slashes stripped
        "https://a.com/x///#frag": "https://a.com/x",
        # real params survive in order; tracking ones removed mid-list
        "https://a.com/s?q=spark&utm_campaign=z&page=2": "https://a.com/s?q=spark&page=2",
        # all-tracking query collapses to no query
        "https://a.com/x?gclid=1&fbclid=2": "https://a.com/x",
        # bare host, no path
        "https://A.com": "https://a.com",
    }
    for url, want in cases.items():
        assert _canon(spark, url) == want, url


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i, f"l{i % 3}", f"s{i % 2}", len(t), t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long, text string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return rows


NASTY = [
    'plain ascii',
    'embedded "quotes" and, commas',
    "newline\nin the\nmiddle",
    "tab\tand backslash \\ and trailing space ",
    "unicode: héllo wörld — 日本語 🚀",
    '{"looks": "like json"}',
    "",
]


def test_jsonl_roundtrip_nasty_strings(spark, tmp_path):
    rows = _write_docs(spark, tmp_path, NASTY)
    out = {
        r.doc_id: (r.lang, r.source, r.n_chars)
        for r in source_jsonl_roundtrip(spark, str(tmp_path)).collect()
    }
    assert len(out) == len(rows)
    for doc_id, lang, source, n_chars, _ in rows:
        assert out[doc_id] == (lang, source, n_chars)


def test_csv_roundtrip_nasty_strings(spark, tmp_path):
    import hashlib

    rows = _write_docs(spark, tmp_path, NASTY)
    out = {r.doc_id: r.text_sha for r in source_csv_roundtrip(spark, str(tmp_path)).collect()}
    assert len(out) == len(rows)
    for doc_id, _, _, _, text in rows:
        # empty string serializes to an empty CSV field, which reads back
        # as NULL (documented CSV datasource behavior) → sha of NULL is
        # NULL; every non-empty text must round-trip hash-exact
        if text:
            assert out[doc_id] == hashlib.sha256(text.encode()).hexdigest()


def test_parse_quarantine_routes_bad_rows(spark, tmp_path):
    _write_docs(spark, tmp_path, [f"t{i}" for i in range(12)])
    got = {r.doc_id: r for r in parse_quarantine(spark, str(tmp_path)).collect()}
    for i in range(12):
        if i % 5 == 0:
            assert got[i].ok == 0 and got[i].parsed_lang is None
            assert got[i].bad_len == 10
        else:
            assert got[i].ok == 1 and got[i].parsed_lang == f"l{i % 3}"
            assert got[i].bad_len == -1


def test_decayed_sum_math(spark, tmp_path):
    # two events for one user: one at tmax (weight 1), one a half-life
    # (86400s) earlier (weight 0.5) → decayed_value = v0*0.5 + v1*1
    import datetime

    base = datetime.datetime(2024, 1, 2)
    df = spark.createDataFrame(
        [
            (0, base - datetime.timedelta(seconds=86400), 7, "view", 10.0, "{}"),
            (1, base, 7, "view", 4.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    from archive_to_parquet_spark.queries.relational import rel_decayed_sum

    row = rel_decayed_sum(spark, str(tmp_path)).collect()[0]
    assert row.n_events == 2
    assert math.isclose(row.decayed_value, 10.0 * 0.5 + 4.0, abs_tol=0.01)
    assert math.isclose(row.decayed_count, 1.5, abs_tol=0.01)


def test_bpe_encode_known_merges(spark):
    from archive_to_parquet_spark.operators.tokenize import bpe_token_count_col
    from archive_to_parquet_spark.queries.text import _BPE_MERGES

    df = spark.createDataFrame(
        [(0, "the thin thing"), (1, "x 🚀y"), (2, "")], "doc_id long, text string"
    )
    n_words, n_tokens = bpe_token_count_col("text", _BPE_MERGES)
    got = {
        r.doc_id: (r.w, r.t)
        for r in df.select(
            "doc_id", n_words.alias("w"), n_tokens.alias("t")
        ).collect()
    }
    # the: t-h→th, th-e→the → 1 token; thin: th + in → 2; thing: th + ing → 2
    assert got[0] == (3, 5)
    # non-printable-ascii word is one UNK token
    assert got[1] == (2, 2)
    assert got[2] == (0, 0)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    _write_docs(spark, tmp_path, [f"text number {i}" for i in range(10)])
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    out = f"{tmp_path}/by_lang"
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter("lang = 'l0'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang filter must be a PARTITION filter on the scan (planning-
    # time pruning), not a post-scan data filter
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == sum(1 for i in range(10) if i % 3 == 0)


def test_dpp_join_prunes_at_runtime(spark, tmp_path):
    from archive_to_parquet_spark.queries.parity import source_dpp_join

    _write_docs(spark, tmp_path, [f"text number {i}" for i in range(12)])
    # patch the dim to this fixture's langs (l0/l1/l2)
    import archive_to_parquet_spark.queries.parity as qe

    orig = qe._LANG_SCRIPT
    qe._LANG_SCRIPT = [("l0", "latin"), ("l1", "latin"), ("l2", "cjk")]
    try:
        df = source_dpp_join(spark, str(tmp_path))
        rows = {r.lang: r.n_docs for r in df.collect()}
        assert rows == {"l2": sum(1 for i in range(12) if i % 3 == 2)}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        qe._LANG_SCRIPT = orig


def test_pq_topk_recall_against_exact_l2(spark):
    import os

    from archive_to_parquet_spark.queries.similarity import ann_pq_topk

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    approx = ann_pq_topk(spark, sf_dir).collect()
    # exact L2 top-10 for the same queries
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("qv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        emb.crossJoin(q)
        .select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    )
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # ADC keeps 50 candidates, exact re-rank picks 10: misses happen only
    # when a true neighbor falls outside the quantized top-50
    assert recall >= 0.6, f"PQ recall too low: {recall}"
    # the exact L2 top-1 is the query itself (distance 0); the re-rank
    # must place it at rank 1 whenever ADC kept it as a candidate
    by_rank1 = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    self_kept = sum(1 for qid, vid in by_rank1.items() if qid == vid)
    assert self_kept >= len(by_rank1) * 0.7


def test_kmeans_fixed_rounds_converges_on_separated_clusters(spark):
    """Three well-separated point clouds: the deterministic k-means must
    recover them exactly from any same-cloud seeds, and every point's
    reported d2 must be its distance to its OWN cluster's centroid."""
    import random

    from archive_to_parquet_spark.operators.similarity import kmeans_fixed_rounds

    rng = random.Random(7)
    rows = []
    for g, base in enumerate([0.0, 10.0, -10.0]):
        for i in range(20):
            rows.append(
                (g * 20 + i, [base + rng.uniform(-0.5, 0.5) for _ in range(4)])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = emb.filter(F.col("vec_id") % 20 == 3).select(
        (F.col("vec_id") / 20).cast("int").alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    out = kmeans_fixed_rounds(emb, init, n_rounds=2).collect()
    assert len(out) == 60
    for r in out:
        assert r.cid == r.vec_id // 20
    # inertia is bounded by the cloud radius (4 dims × (±0.5+mean err)²)
    assert all(r.d2_e6 <= 4 * (1.1**2) * 1e6 for r in out)


def test_chunk_documents_window_geometry(spark, tmp_path):
    import hashlib

    from archive_to_parquet_spark.queries.text import chunk_documents

    words = [f"w{i}" for i in range(120)]
    _write_docs(spark, tmp_path, [" ".join(words), "short doc", ""])
    out = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_len, r.chunk_sha)
        for r in chunk_documents(spark, str(tmp_path)).collect()
    )
    # 120 words, size 50 stride 30 → starts 1,31,61,91; lens 50,50,50,30
    doc0 = [(c, l) for d, c, l, _ in out if d == 0]
    assert doc0 == [(0, 50), (1, 50), (2, 50), (3, 30)]
    sha0 = [s for d, c, l, s in out if d == 0][0]
    assert sha0 == hashlib.sha256(" ".join(words[:50]).encode()).hexdigest()
    # 2-word doc → a single short chunk; empty doc → no chunks
    assert [(c, l) for d, c, l, _ in out if d == 1] == [(0, 2)]
    assert not [1 for d, *_ in out if d == 2]


def test_cosine_dbscan_roles_on_crafted_geometry(spark):
    """A 15°-apart chain A-B-C (cos 15° ≈ .966 ≥ .95, cos 30° ≈ .866 <
    .95): B is core, A and C are border attached to B's cluster. An
    isolated far vector is noise; a separate 4-clique is all core."""
    import math

    from archive_to_parquet_spark.operators.similarity import cosine_dbscan

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [
        (0, rot(0)),      # A: border (only neighbor B)
        (1, rot(15)),     # B: core (A and C within 15°)
        (2, rot(30)),     # C: border
        (9, [0.0, 0.0, 1.0, 0.0]),  # orthogonal: noise
        # 4-clique at 90°: 1° apart pairwise → all core
        (20, rot(90)),
        (21, rot(91)),
        (22, rot(92)),
        (23, rot(89)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.role, r.cluster) for r in cosine_dbscan(df, 0.95, 2).collect()}
    assert out[1] == ("core", 1)
    assert out[0] == ("border", 1) and out[2] == ("border", 1)
    assert out[9] == ("noise", -1)
    for v in (20, 21, 22, 23):
        assert out[v] == ("core", 20)


def test_logreg_learns_separable_rule(spark, tmp_path):
    """On a cleanly separable corpus (short vs long texts), the trained
    model must classify near-perfectly and weight the length feature
    positively."""
    texts = ["word " * 20] * 15 + ["word " * 200] * 15  # 100 vs 1000 chars
    _write_docs(spark, tmp_path, texts)
    from archive_to_parquet_spark.queries.text import train_logreg_quality

    r = train_logreg_quality(spark, str(tmp_path)).collect()[0]
    assert r.n_rows == 30
    assert r.n_correct == 30, (r.w0_e6, r.w1_e6, r.w2_e6, r.w3_e6)
    assert r.w3_e6 > 0


def test_theta_setops_within_bound(spark):
    from archive_to_parquet_spark import queries as q

    r = q.queries()["sketch_theta_setops"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.within_bound == 1
    assert r.est_u > 0 and r.n_u >= r.n_i
    # set algebra sanity on the exact side: |A∩B| + |A\B| = |A| ≤ |A∪B|
    assert r.n_i + r.n_d <= r.n_u


def test_containment_finds_planted_prefix_extracts(spark):
    """Every planted prefix-extract twin (doc_id+3000000) must be
    reported as fully contained (ppm = 1,000,000) in its original —
    structural recall of the asymmetric prefix-filtered index."""
    from archive_to_parquet_spark import queries as q

    rows = q.queries()["dedup_containment"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    got = {(r.id_sub, r.id_sup): r.containment_ppm for r in rows}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = [r.doc_id for r in docs.select("doc_id").collect() if r.doc_id % 40 == 0]
    assert planted
    for pid in planted:
        assert got.get((pid + 3000000, pid)) == 1_000_000, pid


def test_containment_size_conjunct_keeps_boundary_pairs(spark):
    """Round 12: the confirm filter gained a short-circuit conjunct
    |S(b)| ≥ t·|S(a)| ahead of the array_intersect — implied by the
    ppm threshold, so the pair set must be IDENTICAL to brute force,
    including a pair sitting EXACTLY on the size boundary (|S(b)| =
    7 = 0.875·8 = t·|S(a)|, ppm = 875000 = the threshold): a `>`
    written for `≥` anywhere in the conjunct would drop it."""
    from archive_to_parquet_spark.operators.dedup import containment_pairs

    words = " ".join(f"w{i}" for i in range(10))       # 8 3-shingles
    docs = spark.createDataFrame(
        [
            (1, words),                                  # A: 8 shingles
            (2, " ".join(f"w{i}" for i in range(9))),    # B ⊂ A: 7
            (3, "w0 w1 w2 w3"),                          # C ⊂ B: 2
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_sub, r.id_sup): r.containment_ppm
        for r in containment_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.875
        ).collect()
    }
    assert got == {
        (1, 2): 875_000,   # the exact boundary pair
        (2, 1): 1_000_000,
        (3, 1): 1_000_000,
        (3, 2): 1_000_000,
    }


def test_ivf_pq_self_query_is_rank_one(spark):
    """Queries are corpus members: each query's own bucket is its #1
    probe, so rank 1 must be the query itself at exact distance 0, and
    per-query ranks must be 1..10 with nondecreasing distances."""
    from collections import defaultdict

    from archive_to_parquet_spark import queries as q

    rows = q.queries()["ann_ivf_pq_topk"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append((r.rank, r.vec_id, r.d2_e6))
    assert per_q
    for qid, lst in per_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        assert lst[0][1] == qid and lst[0][2] == 0
        assert all(lst[i][2] <= lst[i + 1][2] for i in range(len(lst) - 1))
