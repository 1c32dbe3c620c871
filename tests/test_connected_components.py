"""Connected components (``operators.dedup.connected_components``):
min-label propagation with parent hooking and pointer jumping, checked
against a pure-Python union-find on chains — label propagation's worst
case — and on random graphs; the Observation-fused convergence probe;
and the graph family's label propagation.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from archive_to_parquet_spark.operators.dedup import connected_components
from archive_to_parquet_spark.queries.graph import graph_label_propagation
from tests.test_plan_shapes import SF_DIR


def min_reachable(edges) -> dict[int, int]:
    """Union-find reference: node → the minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


@pytest.mark.parametrize("shuffled", [False, True], ids=["ordered", "shuffled"])
def test_path_converges_in_logarithmic_rounds(spark, shuffled):
    """A 2^6-node path takes plain label propagation about 2^6 rounds,
    and pointer jumping without hooking 23 when the ids are shuffled;
    hooking plus jumping converges within 2k+2 = 14."""
    ids = list(range(64))
    if shuffled:
        random.Random(6).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(63)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.id: r.component
        for r in connected_components(pairs, max_iterations=14).collect()
    }
    assert got == min_reachable(edges) == {i: 0 for i in range(64)}


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
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
