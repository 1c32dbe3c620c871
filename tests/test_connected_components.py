"""`near_duplicate_clusters(method="auto")` — the documented depth
heuristic: a bounded label-propagation probe IS the detector;
chain-shaped pair graphs (diameter > budget) fall back to star-CC,
shallow star graphs converge inside the budget and never pay star's
extra exchanges.

The pair generator is stubbed so the graph SHAPE is exact: a 40-node
path (worst case for min-label propagation — O(diameter) rounds) and a
hub-and-spokes star (converges in 2 rounds). Both paths must return
the same contract: every doc labeled, component = min reachable id.

Also the graph family's label propagation and the Observation-fused
convergence probe of the connected-components loop.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators import dedup as D
from archive_to_parquet_spark.queries.graph import graph_label_propagation
from tests.test_plan_shapes import SF_DIR


def _docs(spark, n):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, n + 1)],
        "doc_id: long, text: string",
    )


def _with_stub_pairs(monkeypatch, spark, edges):
    pairs_df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    monkeypatch.setattr(
        D, "minhash_near_duplicates_confirmed", lambda *a, **kw: pairs_df
    )
    return pairs_df


def test_auto_falls_back_to_star_on_chain(spark, monkeypatch):
    n = 40
    _with_stub_pairs(monkeypatch, spark, [(i, i + 1) for i in range(1, n)])
    label_calls = []
    orig_label = D.connected_components
    monkeypatch.setattr(
        D,
        "connected_components",
        lambda *a, **kw: label_calls.append(kw) or orig_label(*a, **kw),
    )
    out = D.near_duplicate_clusters(
        _docs(spark, n), method="auto", auto_label_rounds=5
    ).collect()
    # the probe ran with the bounded budget, failed, and star took over
    assert label_calls and label_calls[0]["max_iterations"] == 5
    assert {r["component"] for r in out} == {1}
    assert sorted(r["id"] for r in out if r["is_representative"]) == [1]


def test_auto_stays_on_label_for_shallow_graph(spark, monkeypatch):
    n = 12
    # hub-and-spokes: node 1 adjacent to all others (diameter 2)
    _with_stub_pairs(monkeypatch, spark, [(1, i) for i in range(2, n + 1)])

    def _no_star(*a, **kw):
        raise AssertionError("star-CC must not run for a shallow graph")

    monkeypatch.setattr(D, "connected_components_star", _no_star)
    out = D.near_duplicate_clusters(
        _docs(spark, n), method="auto", auto_label_rounds=5
    ).collect()
    assert {r["component"] for r in out} == {1}


def test_auto_and_label_agree_on_mixed_graph(spark, monkeypatch):
    # two components: a chain 1-2-3-4 and a pair 10-11; 20 is a singleton
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    _with_stub_pairs(monkeypatch, spark, edges)
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 10, 11, 20)],
        "doc_id: long, text: string",
    )
    auto = {
        (r["id"], r["component"])
        for r in D.near_duplicate_clusters(
            docs, method="auto", auto_label_rounds=20
        ).collect()
    }
    label = {
        (r["id"], r["component"])
        for r in D.near_duplicate_clusters(docs, method="label").collect()
    }
    assert auto == label == {
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20),
    }


def test_unknown_method_rejected(spark, monkeypatch):
    _with_stub_pairs(monkeypatch, spark, [(1, 2)])
    with pytest.raises(ValueError, match="unknown components method"):
        D.near_duplicate_clusters(_docs(spark, 2), method="banana")


# -- label propagation ----------------------------------------------------


def test_lpa_partition_covers_nodes_and_labels_are_members(spark):
    comm = graph_label_propagation(spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    )
    nodes = set(
        r["n"]
        for r in pairs.select(F.col("a").alias("n"))
        .union(pairs.select(F.col("b").alias("n")))
        .distinct()
        .collect()
    )
    # communities partition the node set exactly
    assert sum(r["n_members"] for r in comm) == len(nodes)
    for r in comm:
        # a community's label is a real node (it need not fall inside
        # the member id range after 2 LPA rounds, so no range assert)
        assert r["community"] in nodes
        assert r["min_node"] <= r["max_node"]


def test_connected_components_observation_probe(spark):
    """The fused Observation probe must preserve exact CC semantics:
    min-reachable-id labels, convergence on chains (worst case for
    min-label propagation), singletons via self-loops."""
    from archive_to_parquet_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "id_a long, id_b long",
    ).localCheckpoint()
    got = sorted(
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    )
    assert got == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20),
    ]


def test_connected_components_empty_pairs(spark):
    from archive_to_parquet_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
