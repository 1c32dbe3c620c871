"""Graph family: PageRank, triangle counting and label propagation over
the part co-purchase graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.queries.relational import _t


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed power iterations, d=0.85) over the symmetrized
    supplier↔part incidence graph from lineitem. Fixed iterations make
    the result a pure function of the edge set — replayed exactly by
    chained CTEs in the oracle. Top 30 by rank."""
    from archive_to_parquet_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    # round 12 (guide §2.4): materialize the DIRECTED half once, below
    # the symmetrizing union — the union sat above the checkpoint
    # before, so the lineitem scan + distinct executed once per union
    # branch (the r12 profile's twin 46-task scan stages); now the
    # reverse branch re-reads the checkpointed blocks instead
    # distinct on the two INTEGER keys, concat after: the prefixes make
    # the concat injective, so the pair set is identical, while the
    # distinct shuffles 16 bytes/row of longs instead of two strings
    # and hash-aggregates native ints (guide §2.3 "narrower types")
    e0 = (
        li.select("l_suppkey", "l_partkey")
        .distinct()
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        .localCheckpoint()
    )
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # the union of a distinct pair set with its reverse is distinct by
    # construction (src/dst prefixes are disjoint) — skip the internal
    # distinct shuffle; the union-of-blocks view is cheap per consumer,
    # so pagerank's own edge checkpoint (a block copy) is skipped too
    pr = pagerank(
        edges,
        n_iter=3,
        damping=0.85,
        assume_distinct=True,
        checkpoint_edges=False,
    )
    return (
        pr.select("node", F.round("rank", 10).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(30)
    )


GRAPH_PAGERANK_SQL = """
WITH e0 AS (
  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
  FROM lineitem
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), deg AS (
  SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY 1
), params AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes
), r1 AS (
  SELECT nd.node,
         0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m.mass, 0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.out_deg) AS mass
    FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) m ON nd.node = m.node
), r2 AS (
  SELECT nd.node,
         0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m.mass, 0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.out_deg) AS mass
    FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) m ON nd.node = m.node
), r3 AS (
  SELECT nd.node,
         0.15 / (SELECT n FROM params) + 0.85 * COALESCE(m.mass, 0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.out_deg) AS mass
    FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) m ON nd.node = m.node
)
SELECT node, round(rank, 10) AS rank
FROM r3 ORDER BY rank DESC, node ASC LIMIT 30
"""


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------

def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the part co-purchase graph (parts
    sharing an order are adjacent) via ``operators.graph.
    triangle_count`` — degree-ordered orientation, so each triangle is
    counted once at its lowest-degree corner and wedge fan-out stays
    O(√m) even at hub nodes. The oracle replays canonicalization,
    degrees, orientation, wedge join, and the closing-edge semi join.

    Scale: all joins key on node id / edge pairs — no broadcast of the
    edge set, no all-pairs step; the co-purchase expansion itself is
    bounded by items-per-order (basket size), not catalog size.
    """
    from archive_to_parquet_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
        )
    )
    return triangle_count(pairs)


GRAPH_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT x.l_partkey AS src, y.l_partkey AS dst
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM pairs WHERE src <> dst
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
              THEN c.a ELSE c.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
              THEN c.b ELSE c.a END AS v
  FROM canon c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
), closed AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oriented e1 JOIN oriented e2 ON e1.v = e2.u
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.u = e1.u AND o.v = e2.v)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM canon) AS n_edges,
       (SELECT COUNT(*) FROM closed) AS n_triangles
"""


# ---------------------------------------------------------------------------
# Label-propagation community detection (2 synchronous rounds, mode rule)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the part co-purchase graph (same edge set as
    ``graph_triangles``): labels start as node ids; each round every
    node adopts the MODE of its neighbors' labels (ties broken by
    smallest label — the determinism rule async LPA lacks); two fixed
    rounds, then the community size histogram. Deterministic by
    construction, so the DuckDB oracle replays the exact fixpoint
    prefix rather than checking a quality proxy.

    Scale shape: each round is one neighbor join keyed on node id +
    one (node, label) count + one per-node window top-1 — all
    shuffle-keyed on node, no broadcast of the edge set, no all-pairs.
    Rounds are a fixed unrolled pipeline (2 here; production LPA runs
    ~5 with a convergence check), so the plan depth is bounded and
    checkpoint cadence can ride the same machinery as
    ``graph_pagerank``. The co-purchase expansion is bounded by basket
    size, not catalog size."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # Round 12 negative result: rebuilding the pairs from per-order
    # collect_set baskets (one scan + explode×explode instead of the
    # two-scan self-join) measured a WASH on rebuild (3.21 → 3.21 s)
    # and a regression on the execute side (bench 1.41 → 1.97 s, the
    # rounds' join strategy drifted) — reverted; the self-join form
    # stands.
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )
    # materialize the symmetrized edge list once: both rounds (and the
    # seed-label derivation) reuse it, instead of re-running the
    # lineitem self-join + distinct per consumer (the
    # lsh_epsilon_pairs precedent; the checkpoint subplan stays inside
    # the audit via recording_checkpoint_plans).
    # Round 12 negative result: checkpointing the DIRECTED half below
    # the union (the pagerank single-scan fix) measured SLOWER here
    # (rebuild 3.21 → 3.42 s) — unlike pagerank's concat-keyed
    # branches, the two union branches are IDENTICAL subplans up to
    # projection, so ReuseExchange already elides the duplication, and
    # un-materializing the union just made every consumer re-union the
    # blocks. Kept as-is.
    edges = (
        pairs.select("a", "b")
        .union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint()
    )
    labels = edges.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        nbr = edges.join(
            labels, edges["b"] == labels["id"]
        ).select("a", "label")
        counts = nbr.groupBy("a", "label").agg(F.count("*").alias("cnt"))
        # Round 11 (guide §2.3/§2.4): the per-node mode was a
        # row_number window over (cnt DESC, label ASC) — an exchange on
        # ``a`` PLUS a per-group sort. max(struct(cnt, −label)) picks
        # the lexicographically identical winner (max count, ties to
        # the smallest label), is map-side combinable (partial agg
        # before the exchange), and drops the sort entirely. A fuller
        # restructure (edge list checkpointed hash-partitioned on b +
        # shuffle_hash round joins + single repartition(a)) was
        # measured SLOWER locally (8.3 s vs 5.0 s rebuild at sf0.1) —
        # the AQE-less checkpoint stages and the full-width nbr
        # repartition cost more than the removed sort-merge sorts.
        labels = (
            counts.groupBy("a")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("best")
            )
            .select(
                F.col("a").alias("id"),
                (-F.col("best.neg_label")).alias("label"),
            )
        )
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.min("id").alias("min_node"),
            F.max("id").alias("max_node"),
        )
        .select(
            F.col("label").alias("community"),
            "n_members",
            "min_node",
            "max_node",
        )
    )


GRAPH_LPA_SQL = """
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
edges AS (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
),
l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
c1 AS (
  SELECT e.a, l.label, COUNT(*) AS cnt
  FROM edges e JOIN l0 l ON e.b = l.id GROUP BY 1, 2
),
l1 AS (
  SELECT a AS id, label FROM (
    SELECT a, label,
           ROW_NUMBER() OVER (PARTITION BY a
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT e.a, l.label, COUNT(*) AS cnt
  FROM edges e JOIN l1 l ON e.b = l.id GROUP BY 1, 2
),
l2 AS (
  SELECT a AS id, label FROM (
    SELECT a, label,
           ROW_NUMBER() OVER (PARTITION BY a
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c2
  ) WHERE rn = 1
)
SELECT label AS community,
       COUNT(*) AS n_members,
       MIN(id) AS min_node,
       MAX(id) AS max_node
FROM l2 GROUP BY label
"""


ENTRIES = {
    "graph_pagerank": (graph_pagerank, GRAPH_PAGERANK_SQL),
    "graph_triangles": (graph_triangles, GRAPH_TRIANGLES_SQL),
    "graph_label_propagation": (graph_label_propagation, GRAPH_LPA_SQL),
}
