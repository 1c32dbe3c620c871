"""Maintenance family: dataset maintenance and governance — snapshot
diff, upsert, Z-order statistics, incremental aggregate views,
compaction and vacuum planning, column profiles, constraint suites,
Benford, drift and privacy audits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.exactnum import cents_avg, cents_avg_sql
from archive_to_parquet_spark.operators.dedup import (
    _SFX_MIN,
    _SFX_SQL_PRELUDE,
    _SFX_SQL_WHERE,
    _suffix_rows,
)
from archive_to_parquet_spark.operators.profiling import (
    _PSI_BINS,
    _PSI_WIDTH,
    psi_bin_counts,
    psi_report_from_counts,
)
from archive_to_parquet_spark.queries.relational import (
    _read_events,
    _stage_dir,
    _t,
)


def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling operator (the data-quality report a pipeline
    runs before training): per numeric column of lineitem — nulls,
    distinct count, min/max/avg — computed in ONE pass (one shuffle-free
    partial-agg reduction; countDistinct forces one expand+shuffle,
    still a single scan of the table)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}_nulls"),
            F.countDistinct(c).alias(f"{c}_distinct"),
            F.round(F.min(c), 2).alias(f"{c}_min"),
            F.round(F.max(c), 2).alias(f"{c}_max"),
            # exact integer avg (all profiled columns are 2dp-discrete)
            cents_avg(c, 2, f"{c}_avg"),
        ]
    return li.agg(*aggs)


def _profile_oracle_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for c in cols:
        parts += [
            f"count(CASE WHEN {c} IS NULL THEN 1 END) AS {c}_nulls",
            f"count(DISTINCT {c}) AS {c}_distinct",
            f"round(min({c}), 2) AS {c}_min",
            f"round(max({c}), 2) AS {c}_max",
            f"{cents_avg_sql(c, 2)} AS {c}_avg",
        ]
    return "SELECT " + ",\n       ".join(parts) + " FROM lineitem"


def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release dataset diff (plans/maintenance.snapshot_diff):
    two snapshots are derived deterministically from documents (old
    drops doc_id%10==0, new drops doc_id%7==0 and rewrites text where
    doc_id%5==0), then diffed by md5 fingerprint through a digest-only
    full-outer join. Output: per-status row counts."""
    from archive_to_parquet_spark.plans.maintenance import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit("v2 "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = snapshot_diff(old, new, "doc_id", F.md5(F.col("text").cast("binary")))
    return d.groupBy("status").agg(F.count("*").alias("n"))


MAINT_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
), d AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN md5(o.text) <> md5(n.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, COUNT(*) AS n FROM d GROUP BY status
"""


def maintenance_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of orders
    (plans/maintenance.profile_table): row/null/exact-distinct counts
    and min/max per column, unpivoted to one row per column."""
    from archive_to_parquet_spark.plans.maintenance import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(
        orders, ["o_custkey", "o_orderstatus", "o_totalprice"]
    )


MAINT_PROFILE_SQL = """
SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR),
       CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT o_totalprice),
       CAST(MIN(o_totalprice) AS VARCHAR),
       CAST(MAX(o_totalprice) AS VARCHAR)
FROM orders
"""


# ---------------------------------------------------------------------------
# Privacy: k-anonymity audit + suppression
# ---------------------------------------------------------------------------

def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the quasi-identifier pair (lang, source): every
    equivalence class smaller than k=5 is SUPPRESSED (its identifiers
    generalized to '*'), the rest released as-is — the
    compliance-release step that complements `text_pii_redact` (cell
    content) with group-level protection. Output is the released
    class table: identifiers, class size, and suppression flag; the
    suppressed remainder is pooled into one '*' row so the release
    still accounts for every document.

    Scale: one groupBy on the quasi-identifier tuple with map-side
    partials + a re-agg of the (tiny) suppressed classes. k-anonymity
    at 100 TB is exactly this shape — the class table is orders of
    magnitude smaller than the corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(
        F.count("*").alias("class_size")
    )
    released = classes.filter(F.col("class_size") >= 5).select(
        "lang", "source", "class_size", F.lit(0).alias("suppressed")
    )
    pooled = (
        classes.filter(F.col("class_size") < 5)
        .agg(F.coalesce(F.sum("class_size"), F.lit(0)).alias("class_size"))
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            "class_size",
            F.lit(1).alias("suppressed"),
        )
        .filter(F.col("class_size") > 0)
    )
    return released.unionByName(pooled)


PRIVACY_K_ANON_SQL = """
WITH classes AS (
  SELECT lang, source, COUNT(*) AS class_size
  FROM documents GROUP BY lang, source
)
SELECT lang, source, class_size, 0 AS suppressed
FROM classes WHERE class_size >= 5
UNION ALL
SELECT '*', '*', CAST(SUM(class_size) AS BIGINT), 1
FROM classes WHERE class_size < 5
HAVING SUM(class_size) > 0
"""


# ---------------------------------------------------------------------------
# Data-quality audit: Benford first-digit distribution
# ---------------------------------------------------------------------------

def audit_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of l_extendedprice — thin wrapper over
    ``operators.profiling.benford_first_digit`` (observed vs expected
    first-digit rates in integer nano-units)."""
    from archive_to_parquet_spark.operators.profiling import benford_first_digit

    return benford_first_digit(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


AUDIT_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM lineitem
), counts AS (
  SELECT digit, COUNT(*) AS n FROM d WHERE digit >= 1 GROUP BY digit
), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
e(digit, expected_e9) AS (VALUES (1, 301029996), (2, 176091259), (3, 124938737), (4, 96910013), (5, 79181246), (6, 66946790), (7, 57991947), (8, 51152522), (9, 45757491))
SELECT c.digit, c.n,
       (2 * c.n * 1000000000 + t.total) // (2 * t.total) AS observed_e9,
       e.expected_e9,
       abs((2 * c.n * 1000000000 + t.total) // (2 * t.total)
           - e.expected_e9) AS gap_e9
FROM counts c, t
JOIN e ON e.digit = c.digit
"""


# ---------------------------------------------------------------------------
# Z-order layout key, driver-checked
# ---------------------------------------------------------------------------

_Z_BITS = 16


def maintenance_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order (Morton) layout key from ``plans.maintenance.
    zorder_key`` driver-checked: orders' (o_custkey, o_orderkey) are
    min-max quantized to 16-bit grid cells with exact integer math
    (truncating div — both engines agree), bit-interleaved into the
    64-bit key, and summarized as counts per top-byte key prefix (the
    row-group-level histogram a Z-ordered write would produce). The
    oracle replays quantization and the full 32-term interleave.

    Scale: the key is pure per-row bit math (one scan); the min/max
    frame is a broadcast scalar. Sorting by this key is what makes
    parquet min/max stats selective for BOTH columns at once
    (write_zordered); the entry certifies the key itself.
    """
    from archive_to_parquet_spark.plans.maintenance import zorder_key

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    stats = orders.agg(
        F.min("o_custkey").alias("mn_c"),
        F.max("o_custkey").alias("mx_c"),
        F.min("o_orderkey").alias("mn_o"),
        F.max("o_orderkey").alias("mx_o"),
    )
    top = (1 << _Z_BITS) - 1

    def q(col, mn, mx):
        rng = F.col(mx) - F.col(mn)
        return F.when(rng <= 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.expr(f"(({col} - {mn}) * {top + 1}) div ({mx} - {mn} + 1)"),
                F.lit(top).cast("long"),
            )
        )

    keyed = orders.crossJoin(F.broadcast(stats)).select(
        q("o_custkey", "mn_c", "mx_c").alias("qc"),
        q("o_orderkey", "mn_o", "mx_o").alias("qo"),
    )
    z = zorder_key(["qc", "qo"], bits=_Z_BITS)
    return (
        keyed.select(F.shiftright(z, 24).alias("z_prefix"))
        .groupBy("z_prefix")
        .agg(F.count("*").alias("n_rows"))
    )


def _zorder_oracle_sql() -> str:
    top = (1 << _Z_BITS) - 1
    interleave = " + ".join(
        f"(((q{d} >> {b}) & 1) << {b * 2 + i})"
        for b in range(_Z_BITS)
        for i, d in enumerate(("c", "o"))
    )
    return f"""
WITH stats AS (
  SELECT MIN(o_custkey) AS mn_c, MAX(o_custkey) AS mx_c,
         MIN(o_orderkey) AS mn_o, MAX(o_orderkey) AS mx_o
  FROM orders
), keyed AS (
  SELECT CASE WHEN s.mx_c - s.mn_c <= 0 THEN 0
              ELSE least(((o.o_custkey - s.mn_c) * {top + 1})
                         // (s.mx_c - s.mn_c + 1), {top}) END AS qc,
         CASE WHEN s.mx_o - s.mn_o <= 0 THEN 0
              ELSE least(((o.o_orderkey - s.mn_o) * {top + 1})
                         // (s.mx_o - s.mn_o + 1), {top}) END AS qo
  FROM orders o CROSS JOIN stats s
)
SELECT ({interleave}) >> 24 AS z_prefix,
       COUNT(*) AS n_rows
FROM keyed
GROUP BY 1
"""


MAINTENANCE_ZORDER_SQL = _zorder_oracle_sql()


# ---------------------------------------------------------------------------
# MERGE upsert into a partitioned dataset, driver-checked
# ---------------------------------------------------------------------------


def maintenance_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``plans.maintenance.upsert_partitioned`` (partition-scoped
    MERGE) driver-checked end-to-end: a lang-partitioned base dataset
    (doc_id < 400) takes an update batch (200 ≤ doc_id < 600, text
    uppercased) — updates must REPLACE matched keys, new keys append,
    and untouched rows survive verbatim. The result re-reads the
    dataset after the merge; the oracle states MERGE semantics
    directly (anti-join + union). Output (doc_id, lang, text_md5).

    Scale: only the partitions the update batch touches are read back
    or rewritten (dynamic partition overwrite + IN-filter pruning —
    plan-pinned in tests/test_bucketing.py); the merge cost tracks the
    update batch, not the dataset.
    """
    import shutil

    from archive_to_parquet_spark.plans.maintenance import upsert_partitioned

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    stage = _stage_dir("upsert", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    base_path = os.path.join(stage, "dataset")
    docs.filter(F.col("doc_id") < 400).write.partitionBy("lang").parquet(
        base_path
    )
    updates = (
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 600))
        .select("doc_id", "lang", F.upper("text").alias("text"))
    )
    upsert_partitioned(spark, base_path, updates, key="doc_id", partition_col="lang")
    merged = spark.read.parquet(base_path)
    return merged.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


MAINTENANCE_UPSERT_SQL = """
WITH base AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id < 400
), updates AS (
  SELECT doc_id, lang, upper(text) AS text
  FROM documents WHERE doc_id >= 200 AND doc_id < 600
), merged AS (
  SELECT b.doc_id, b.lang, b.text
  FROM base b ANTI JOIN updates u ON u.doc_id = b.doc_id
  UNION ALL
  SELECT doc_id, lang, text FROM updates
)
SELECT doc_id, lang, md5(text) AS text_md5 FROM merged
"""


def maintenance_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AGGREGATE-materialized-view maintenance — the
    never-rescan-the-base pattern every 100-TB warehouse lives by
    (reference contract K4's post-write stats generalized to persisted,
    foldable state; src/lib.rs counters are the degenerate one-group
    case): revenue-by-nation is kept as mergeable partials (COUNT +
    exact-cents SUM per nation), the HISTORY partials (orders with
    o_orderkey % 4 != 3, through broadcast customer→nation dims) are
    staged once per sf_dir as the MV state, and each run folds only the
    DELTA batch (o_orderkey % 4 == 3) into it: scan delta → broadcast
    dim join → partial agg → union with state → re-agg. COUNT and SUM
    are algebraic, so merge(state, agg(delta)) == agg(full) — and the
    oracle IS the full recompute, so the driver row certifies the
    algebra, not just the numbers.

    Scale: the history fact table is never touched again — asserted
    in-query by counting parquet scans in the probe plan (state file +
    delta fact + 2 dims = exactly 4; a full recompute would scan the
    whole fact). The delta agg is map-side combinable into 25 groups;
    the merge re-agg moves 25 partial rows per batch. At 1000
    executors the daily cost is the delta scan, full stop."""
    from archive_to_parquet_spark.functions.exactnum import cents_col
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        ensure_parquet_snapshot,
    )

    mv_path = os.path.join(_stage_dir("incragg", sf_dir), "mv")

    def rev_by_nation(orders: DataFrame) -> DataFrame:
        cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        return (
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(cents_col("o_totalprice")).alias("revenue_c"),
            )
        )

    orders = _t(spark, sf_dir, "orders")
    ensure_parquet_snapshot(
        spark,
        mv_path,
        lambda: rev_by_nation(orders.filter(F.col("o_orderkey") % 4 != 3)),
        [
            "incragg-v1",
            _input_fingerprint(
                f"{sf_dir}/orders.parquet",
                f"{sf_dir}/customer.parquet",
                f"{sf_dir}/nation.parquet",
            ),
        ],
    )

    delta = rev_by_nation(orders.filter(F.col("o_orderkey") % 4 == 3))
    out = (
        spark.read.parquet(mv_path)
        .unionByName(delta)
        .groupBy("n_name")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_c").alias("revenue_c"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    if n_scans != 4:
        raise RuntimeError(
            f"incremental-MV probe must scan state + delta + 2 dims "
            f"(4 parquet scans), plan has {n_scans} — the history fact "
            f"table is being rescanned"
        )
    return out


MAINTENANCE_INCREMENTAL_AGG_SQL = """
SELECT n_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Declarative data-quality constraint suite (Deequ-style, one pass)
# ---------------------------------------------------------------------------

_AUDIT_PRICE_LO = 1000.0
_AUDIT_PRICE_HI = 450000.0


def audit_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint verification over ``orders``
    (Schelter et al., VLDB 2018; reference contract K4's post-write
    stats — src/lib.rs counters — generalized to a constraint report):
    seven constraints evaluate in ONE pass and emit one
    (constraint, metric, threshold, status) row each — completeness,
    primary-key uniqueness, categorical set membership, numeric
    bounds, format regex, date completeness, and referential integrity
    against ``customer``. The bounds check genuinely FAILS on this
    data (≈10% of o_totalprice sits above 450000 < the 0.95
    threshold), so both report outcomes are exercised.

    Scale shape: every metric is an algebraic aggregate (conditional
    counts + one two-phase distinct on the key column), so the whole
    suite is one scan of orders + one broadcast join to the customer
    key set + a single 1-row Exchange of mergeable partials; the
    report unpivots driver-side from that one row. Asserted in-query:
    exactly 2 parquet scans (orders + customer) — a per-constraint
    framework that rescans the fact table N times is exactly what this
    entry exists to avoid at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")

    def n_if(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    def suite() -> DataFrame:
        joined = orders.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        agg = joined.agg(
            F.count("*").alias("n"),
            F.countDistinct("o_orderkey").alias("n_key"),
            n_if(F.col("o_custkey").isNotNull()).alias("n_cust_ok"),
            n_if(F.col("o_orderstatus").isin("O", "F", "P")).alias(
                "n_status_ok"
            ),
            n_if(
                F.col("o_totalprice").between(_AUDIT_PRICE_LO, _AUDIT_PRICE_HI)
            ).alias("n_price_ok"),
            n_if(F.col("o_orderpriority").rlike("^[1-5]-")).alias("n_prio_ok"),
            n_if(F.col("o_orderdate").isNotNull()).alias("n_date_ok"),
            n_if(F.col("c_custkey").isNotNull()).alias("n_ref_ok"),
        )
        checks = [
            ("completeness_o_custkey", "n_cust_ok", 1.0),
            ("unique_o_orderkey", "n_key", 1.0),
            ("set_o_orderstatus", "n_status_ok", 1.0),
            ("bounds_o_totalprice", "n_price_ok", 0.95),
            ("format_o_orderpriority", "n_prio_ok", 1.0),
            ("completeness_o_orderdate", "n_date_ok", 1.0),
            ("ref_o_custkey_in_customer", "n_ref_ok", 1.0),
        ]
        stack = F.expr(
            "stack({n}, {args}) AS (constraint_name, metric, threshold)".format(
                n=len(checks),
                args=", ".join(
                    f"'{name}', round({col} / CAST(n AS DOUBLE), 6), "
                    f"CAST({thr} AS DOUBLE)"
                    for name, col, thr in checks
                ),
            )
        )
        return agg.select(stack).select(
            "constraint_name",
            "metric",
            "threshold",
            F.when(F.col("metric") >= F.col("threshold"), "pass")
            .otherwise("fail")
            .alias("status"),
        )

    out = suite()
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    if n_scans != 2:  # a real error, not `assert` — survives python -O
        raise RuntimeError(
            f"constraint suite must evaluate in ONE pass (orders + customer"
            f" = 2 parquet scans), plan has {n_scans}"
        )
    return out


AUDIT_CONSTRAINT_SUITE_SQL = f"""
WITH agg AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT o_orderkey) AS n_key,
         SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS n_cust_ok,
         SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)
           AS n_status_ok,
         SUM(CASE WHEN o_totalprice BETWEEN {_AUDIT_PRICE_LO}
                   AND {_AUDIT_PRICE_HI} THEN 1 ELSE 0 END) AS n_price_ok,
         SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                  THEN 1 ELSE 0 END) AS n_prio_ok,
         SUM(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
           AS n_date_ok,
         SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS n_ref_ok
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
report AS (
  SELECT 'completeness_o_custkey' AS constraint_name,
         round(n_cust_ok / CAST(n AS DOUBLE), 6) AS metric,
         CAST(1.0 AS DOUBLE) AS threshold FROM agg
  UNION ALL SELECT 'unique_o_orderkey',
         round(n_key / CAST(n AS DOUBLE), 6), 1.0 FROM agg
  UNION ALL SELECT 'set_o_orderstatus',
         round(n_status_ok / CAST(n AS DOUBLE), 6), 1.0 FROM agg
  UNION ALL SELECT 'bounds_o_totalprice',
         round(n_price_ok / CAST(n AS DOUBLE), 6), 0.95 FROM agg
  UNION ALL SELECT 'format_o_orderpriority',
         round(n_prio_ok / CAST(n AS DOUBLE), 6), 1.0 FROM agg
  UNION ALL SELECT 'completeness_o_orderdate',
         round(n_date_ok / CAST(n AS DOUBLE), 6), 1.0 FROM agg
  UNION ALL SELECT 'ref_o_custkey_in_customer',
         round(n_ref_ok / CAST(n AS DOUBLE), 6), 1.0 FROM agg
)
SELECT constraint_name, metric, threshold,
       CASE WHEN metric >= threshold THEN 'pass' ELSE 'fail' END AS status
FROM report
"""


# ---------------------------------------------------------------------------
# Small-file compaction planning (Iceberg/Delta OPTIMIZE bin-pack)
# ---------------------------------------------------------------------------

_COMPACT_OVERHEAD = 512  # per-file format overhead added to payload bytes
_COMPACT_TARGET = 16384  # target output file size (bytes)


def maintenance_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING — the metadata half of
    Iceberg/Delta ``OPTIMIZE`` (BinPackStrategy) and the operational
    answer to the small-files problem every long-running ingest
    (reference contract K1's one-file-per-run sink, src/sink.rs)
    accumulates: given a file manifest (one file per document, size =
    payload + format overhead, partitioned by lang), greedily pack
    files in arrival (doc_id) order into target-size output bins via a
    per-partition cumulative sum, and emit one row per planned output
    file: file count, total bytes, id range, and how many small files
    the rewrite retires.

    Greedy cumulative packing (bin = bytes_before DIV target, exact
    BIGINT integer division — no float ever enters the bin id) is
    Iceberg's actual strategy: it preserves arrival clustering, never
    reorders data, and plans in one pass over the MANIFEST — no data
    byte is read to decide the rewrite. A bin may overshoot the target
    by at most one file (the straddler lands in the bin its first byte
    falls in), matching Iceberg's closed-bin semantics.

    Scale shape: one shuffle on the partition key (lang) feeds a
    running-sum window that streams each partition's sorted run; the
    bin agg then moves one row per OUTPUT file. A 100-TB table's
    manifest is ~10^7 rows — this whole plan is a metadata query that
    fits on a laptop, which is the point: compaction DECISIONS must
    never cost a table scan."""
    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") + _COMPACT_OVERHEAD).alias("file_bytes"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # bin id via BIGINT integer division (never float): floor(x / t) on a
    # non-negative bigint x equals x DIV t exactly, and integer division is
    # version-invariant across engines where double division + floor() is
    # hostage to each engine's float formatting/rounding stack.
    binned = files.withColumn(
        "bytes_before",
        F.coalesce(F.sum("file_bytes").over(w), F.lit(0)).cast("bigint"),
    ).withColumn(
        "bin", F.expr(f"bytes_before DIV {_COMPACT_TARGET}")
    )
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("file_bytes").cast("bigint").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            (F.count("*") - 1).alias("files_retired"),
        )
        .select(
            "lang",
            F.col("bin").cast("bigint").alias("bin"),
            "n_files",
            "total_bytes",
            "first_doc",
            "last_doc",
            "files_retired",
        )
    )


MAINTENANCE_COMPACTION_SQL = f"""
WITH manifest AS (
  SELECT doc_id, lang, n_chars + {_COMPACT_OVERHEAD} AS file_bytes
  FROM documents
),
binned AS (
  SELECT doc_id, lang, file_bytes,
         CAST(COALESCE(SUM(file_bytes) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           // {_COMPACT_TARGET} AS bin
  FROM manifest
)
SELECT lang, bin,
       COUNT(*) AS n_files,
       CAST(SUM(file_bytes) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       COUNT(*) - 1 AS files_retired
FROM binned
GROUP BY lang, bin
"""


# ---------------------------------------------------------------------------
# Streaming-index maintenance: fold aged batch partitions into the
# bucketed base
# ---------------------------------------------------------------------------

def maintenance_stream_index_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compaction of the STREAMING suffix index — the daily-loop piece
    the three incremental indexes were missing: the streaming writer
    (streaming/suffix_index.py) appends one ``batch_id=N`` partition
    per micro-batch forever, so probe fan-in grows with index age.
    This entry folds the aged partitions into the bucketed base layout
    (``dedup_suffix_lcp_bucketed``'s) with
    ``streaming.suffix_index.compact_suffix_index`` and probes against
    base + young tail.

    Construction: the corpus arrives as 5 slices (doc_id % 5). Slices
    0-3 are the accumulated index partitions (batch_id=k, one row per
    distinct 25-char word-start suffix prefix — exactly what the
    streaming writer appends); the fold watermark is batch_id <= 2, so
    the base absorbs slices 0-2 and slice 3 remains the uncompacted
    tail; slice 4 is today's probe batch. The probe's delta — prefixes
    slice 4 INTRODUCES, with batch-local first_doc / suffix count — is
    by probe-equivalence identical before and after the fold
    (tests/test_bucketing.py pins this on the real streaming
    writer's output), so the DuckDB oracle states the same closed form
    as the bucketed twin: prefixes of slice 4 absent from slices 0-3.

    Scale shape: compaction itself is one distinct + bucketed write
    paid at fold time (staged once per input fingerprint here, like
    every bucketed layout); the folded-batch decision is a partition-
    directory listing, never a data scan (the maintenance-family
    rule). The probe anti-joins the BUCKETED base as a bucket-aligned
    sort-merge join (``bucketed_join``, same contract as the bucketed
    twin; the entry's plan pin holds its zero shuffles) and pays
    exchanges only for the young tail —
    probe cost tracks tail size, not index size, which is what makes
    the continuous-ingest index sustainable at 100 TB."""
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
        ensure_parquet_snapshot,
    )
    from archive_to_parquet_spark.streaming.suffix_index import (
        compact_suffix_index,
    )

    import re

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    stage = _stage_dir("sfxcompact", sf_dir)
    idx_dir = os.path.join(stage, "index")
    docs = _t(spark, sf_dir, "documents")
    fp = ["sfxcompact-v1", _input_fingerprint(f"{sf_dir}/documents.parquet")]

    # the accumulated streaming index: one batch_id=k partition per
    # arrived slice, holding that batch's distinct prefixes (the
    # streaming writer's exact row format)
    for k in range(4):
        ensure_parquet_snapshot(
            spark,
            os.path.join(idx_dir, f"batch_id={k}"),
            lambda k=k: (
                _suffix_rows(docs.filter(F.col("doc_id") % 5 == k))
                .select("pfx")
                .distinct()
            ),
            fp,
        )

    tbase = f"sfxcmp_base_{suffix}"
    compact_suffix_index(
        spark,
        idx_dir,
        tbase,
        os.path.join(stage, "base"),
        max_batch_id=2,
        num_buckets=8,
        fingerprint=fp,
    )

    tprobe = f"sfxcmp_probe_{suffix}"
    ensure_bucketed_table(
        spark, tprobe, os.path.join(stage, "probe"), "pfx", 8,
        lambda: _suffix_rows(docs.filter(F.col("doc_id") % 5 == 4)).select(
            "doc_id", "pos", "pfx"
        ),
        fp,
    )

    tail = (
        spark.read.parquet(idx_dir).filter(F.col("batch_id") > 2).select("pfx")
    )
    return (
        bucketed_join(spark, tprobe, tbase, "pfx", "left_anti")
        .join(tail, "pfx", "left_anti")
        .groupBy("pfx")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count("*").alias("n_suffixes"),
        )
        .select("pfx", "first_doc", "n_suffixes")
    )


MAINTENANCE_STREAM_INDEX_COMPACTION_SQL = f"""
WITH {_SFX_SQL_PRELUDE},
sfx AS (
  SELECT doc_id, substr(norm, g.pos, {_SFX_MIN}) AS pfx
  FROM norm, series g
  WHERE {_SFX_SQL_WHERE}
),
idx AS (SELECT DISTINCT pfx FROM sfx WHERE doc_id % 5 <= 3),
batch AS (SELECT doc_id, pfx FROM sfx WHERE doc_id % 5 = 4)
SELECT b.pfx,
       CAST(MIN(b.doc_id) AS BIGINT) AS first_doc,
       CAST(COUNT(*) AS BIGINT) AS n_suffixes
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.pfx = b.pfx)
GROUP BY 1
"""


def maintenance_stream_index_compaction_fold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FOLD leg of the streaming suffix-index compaction, timed per
    run (r11 verdict ask #5): the headline
    ``maintenance_stream_index_compaction`` entry stages the fold once
    per input fingerprint (the staged-layout family convention), so its
    bench number measures the fold *decision* + probe — the per-run
    cost of the daily maintenance loop — but never the fold work
    itself. This twin pays the actual fold on EVERY execution: read the
    aged ``batch_id <= 2`` partitions of the same staged accumulated
    index, distinct the prefixes, and rewrite the bucketed base table
    from scratch (no fingerprint staging — the output directory is
    removed first so each run performs the full distinct + bucketed
    write). Returns the folded base, whose closed form the oracle
    states directly: the distinct prefixes of slices 0-2.

    Scale shape: the fold is ONE distinct shuffle over the aged
    partitions plus one bucketed write — exactly what a production
    compaction pays, amortized over however many probe runs the base
    then serves (the headline entry measures those)."""
    import re
    import shutil

    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        ensure_parquet_snapshot,
    )
    from archive_to_parquet_spark.streaming.suffix_index import (
        compact_suffix_index,
    )

    suffix = re.sub(r"\W", "_", sf_dir.rstrip("/").split("sf")[-1])
    stage = _stage_dir("sfxcompact", sf_dir)
    idx_dir = os.path.join(stage, "index")
    docs = _t(spark, sf_dir, "documents")
    fp = ["sfxcompact-v1", _input_fingerprint(f"{sf_dir}/documents.parquet")]

    # the same staged accumulated index the headline entry probes
    # (shared stage dir + fingerprint, so neither entry re-stages it)
    for k in range(4):
        ensure_parquet_snapshot(
            spark,
            os.path.join(idx_dir, f"batch_id={k}"),
            lambda k=k: (
                _suffix_rows(docs.filter(F.col("doc_id") % 5 == k))
                .select("pfx")
                .distinct()
            ),
            fp,
        )

    out = os.path.join(stage, "fold_timed")
    shutil.rmtree(out, ignore_errors=True)
    tfold = f"sfxcmp_foldtimed_{suffix}"
    compact_suffix_index(
        spark,
        idx_dir,
        tfold,
        out,
        max_batch_id=2,
        num_buckets=8,
        # NO fingerprint: the fold re-executes on every run — this
        # entry exists to TIME it
    )
    return spark.table(tfold).select("pfx")


MAINTENANCE_STREAM_INDEX_FOLD_SQL = f"""
WITH {_SFX_SQL_PRELUDE},
sfx AS (
  SELECT doc_id, substr(norm, g.pos, {_SFX_MIN}) AS pfx
  FROM norm, series g
  WHERE {_SFX_SQL_WHERE}
)
SELECT DISTINCT pfx FROM sfx WHERE doc_id % 5 <= 2
"""


# ---------------------------------------------------------------------------
# Population Stability Index drift monitor
# ---------------------------------------------------------------------------

def eval_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    event snapshot — THE production drift monitor for any scored
    pipeline (credit, ranking, data-quality gates): bin the metric,
    compare the two distributions, alert when PSI > 0.2.  Snapshots
    are the even/odd ``event_id`` halves (deterministic stand-in for
    yesterday/today); the metric is ``value`` in 10 fixed-width bins.

    Laplace smoothing (+1 per bin) keeps every term finite; the bin
    axis is a 10-row LITERAL on both engines, so a bin empty in both
    snapshots still contributes its (identical) smoothed term instead
    of silently vanishing from one engine's group-by.

    Scale shape: one conditional aggregation collapses the corpus to
    ≤ 2·10 (side, bin) counts; everything after is scalar arithmetic
    on a 10-row frame.  The per-bin term is rounded 6dp before the
    10-term total so the final sum starts from identical doubles.

    On ln() and cross-engine exactness: ln is ≤1-ulp accurate but not
    IEEE-correctly-rounded, so in principle a term could straddle a
    6dp rounding boundary by one ulp (~2e-19 relative) and flip on one
    engine.  This residual risk is shared with the long-driver-
    certified ln-based family (search_bm25's IDF, text_lm_perplexity,
    lm_bigram_score) and is ~12 orders of magnitude below the 5e-7
    rounding threshold — unlike pow(x, 0.3), whose larger libm spread
    the mixing entry avoids by design.
    """
    events = _read_events(spark, sf_dir)
    # one pass over the events collapses to ≤10 (bin, ref_n, cur_n)
    # rows, materialized once: counts feeds the axis join, the totals
    # (derived from counts, NOT from a second corpus pass) and the
    # final PSI fold
    counts = psi_bin_counts(events).localCheckpoint()
    return psi_report_from_counts(spark, counts)


EVAL_PSI_SQL = f"""
WITH sided AS (
  SELECT event_id % 2 = 0 AS is_ref,
         least(greatest(CAST(floor(value / {_PSI_WIDTH}) AS INT), 0),
               {_PSI_BINS - 1}) AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
  FROM sided GROUP BY bin
),
axis AS (
  SELECT CAST(g.b AS INT) AS bin
  FROM generate_series(0, {_PSI_BINS - 1}) AS g(b)
),
totals AS (
  SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_tot,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_tot
  FROM sided
),
detail AS (
  SELECT a.bin,
         COALESCE(c.ref_n, 0) AS ref_n,
         COALESCE(c.cur_n, 0) AS cur_n,
         round((CAST(COALESCE(c.ref_n, 0) + 1 AS DOUBLE)
                  / CAST(t.ref_tot + {_PSI_BINS} AS DOUBLE)
                - CAST(COALESCE(c.cur_n, 0) + 1 AS DOUBLE)
                  / CAST(t.cur_tot + {_PSI_BINS} AS DOUBLE))
               * ln((CAST(COALESCE(c.ref_n, 0) + 1 AS DOUBLE)
                      / CAST(t.ref_tot + {_PSI_BINS} AS DOUBLE))
                    / (CAST(COALESCE(c.cur_n, 0) + 1 AS DOUBLE)
                       / CAST(t.cur_tot + {_PSI_BINS} AS DOUBLE))),
               6) AS psi_term
  FROM axis a LEFT JOIN counts c ON a.bin = c.bin CROSS JOIN totals t
)
SELECT bin, ref_n, cur_n, psi_term,
       (SELECT round(SUM(psi_term), 6) FROM detail) AS psi_total
FROM detail
"""


# ---------------------------------------------------------------------------
# Retention vacuum planning (Delta VACUUM / Iceberg expire-snapshots)
# ---------------------------------------------------------------------------

_VACUUM_RETAIN = 2  # newest versions kept per logical partition
_VACUUM_OVERHEAD = 512  # per-file format overhead (matches compaction twin)


def maintenance_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-vacuum PLANNING — the metadata half of Delta ``VACUUM``
    / Iceberg ``expire_snapshots`` and the other shoe of
    ``maintenance_compaction_plan``: given a file manifest (one file
    per document, versions of a logical partition keyed by
    (source, lang), version order = doc_id), keep the newest
    ``RETAIN`` versions per partition and report, per partition, how
    many files and bytes a vacuum reclaims and the oldest version that
    survives.

    Scale shape: one shuffle on the partition key feeds a per-partition
    row_number ranking (no global window), then a same-key aggregation
    that moves one row per PARTITION.  Like the compaction twin, the
    decision runs on the MANIFEST only — a 100-TB table's vacuum plan
    is a metadata query; no data byte is read to decide deletion.
    """
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(F.col("doc_id").desc())
    ranked = docs.select(
        "source",
        "lang",
        "doc_id",
        (F.col("n_chars") + _VACUUM_OVERHEAD).alias("file_bytes"),
    ).withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("rn") > _VACUUM_RETAIN, 1).otherwise(0))
            .cast("bigint")
            .alias("n_deletable"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rn") > _VACUUM_RETAIN, F.col("file_bytes")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("bytes_reclaimed"),
            F.min(
                F.when(F.col("rn") <= _VACUUM_RETAIN, F.col("doc_id"))
            ).alias("oldest_retained"),
        )
    )


MAINTENANCE_VACUUM_SQL = f"""
WITH ranked AS (
  SELECT source, lang, doc_id, n_chars + {_VACUUM_OVERHEAD} AS file_bytes,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY doc_id DESC) AS rn
  FROM documents
)
SELECT source, lang,
       COUNT(*) AS n_files,
       CAST(SUM(CASE WHEN rn > {_VACUUM_RETAIN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deletable,
       CAST(COALESCE(SUM(CASE WHEN rn > {_VACUUM_RETAIN}
                              THEN file_bytes END), 0) AS BIGINT)
         AS bytes_reclaimed,
       MIN(CASE WHEN rn <= {_VACUUM_RETAIN} THEN doc_id END)
         AS oldest_retained
FROM ranked
GROUP BY source, lang
"""


# ---------------------------------------------------------------------------
# l-diversity release audit
# ---------------------------------------------------------------------------

_LDIV_L = 3  # required distinct sensitive values per QI class
_LDIV_SENS_DIV = 100  # sensitive attribute: content-size band


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) over the
    same quasi-identifier pair as ``privacy_k_anonymity`` (lang,
    source): a class is releasable only if its SENSITIVE attribute
    (content-size band, ``n_chars DIV 100``) takes ≥ l = 3 distinct
    values — k-anonymity alone cannot stop a homogeneity attack where
    every member of a class shares the sensitive value.

    Scale shape: one groupBy on the QI tuple with an exact
    COUNT(DISTINCT) — Spark plans this as the standard two-phase
    expand/re-agg, map-side combinable; the class table is orders of
    magnitude smaller than the corpus, same as the k-anonymity twin.
    """
    docs = _t(spark, sf_dir, "documents")
    classes = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("class_size"),
        F.countDistinct(F.expr(f"n_chars DIV {_LDIV_SENS_DIV}"))
        .cast("bigint")
        .alias("n_sensitive"),
    )
    return classes.select(
        "lang",
        "source",
        "class_size",
        "n_sensitive",
        F.when(F.col("n_sensitive") >= _LDIV_L, "release")
        .otherwise("suppress")
        .alias("status"),
    )


PRIVACY_L_DIVERSITY_SQL = f"""
SELECT lang, source,
       COUNT(*) AS class_size,
       CAST(COUNT(DISTINCT n_chars // {_LDIV_SENS_DIV}) AS BIGINT)
         AS n_sensitive,
       CASE WHEN COUNT(DISTINCT n_chars // {_LDIV_SENS_DIV}) >= {_LDIV_L}
            THEN 'release' ELSE 'suppress' END AS status
FROM documents
GROUP BY lang, source
"""


ENTRIES = {
    "profile_table": (profile_table, _profile_oracle_sql()),
    "maintenance_snapshot_diff": (maintenance_snapshot_diff, MAINT_SNAPSHOT_DIFF_SQL),
    "maintenance_profile_table": (maintenance_profile_table, MAINT_PROFILE_SQL),
    "privacy_k_anonymity": (privacy_k_anonymity, PRIVACY_K_ANON_SQL),
    "audit_benford_prices": (audit_benford_prices, AUDIT_BENFORD_SQL),
    "maintenance_zorder_stats": (maintenance_zorder_stats, MAINTENANCE_ZORDER_SQL),
    "maintenance_upsert": (maintenance_upsert, MAINTENANCE_UPSERT_SQL),
    "maintenance_incremental_agg": (
        maintenance_incremental_agg,
        MAINTENANCE_INCREMENTAL_AGG_SQL,
    ),
    "audit_constraint_suite": (audit_constraint_suite, AUDIT_CONSTRAINT_SUITE_SQL),
    "maintenance_compaction_plan": (
        maintenance_compaction_plan,
        MAINTENANCE_COMPACTION_SQL,
    ),
    "maintenance_stream_index_compaction": (
        maintenance_stream_index_compaction,
        MAINTENANCE_STREAM_INDEX_COMPACTION_SQL,
    ),
    "maintenance_stream_index_compaction_fold": (
        maintenance_stream_index_compaction_fold,
        MAINTENANCE_STREAM_INDEX_FOLD_SQL,
    ),
    "eval_psi_drift": (eval_psi_drift, EVAL_PSI_SQL),
    "maintenance_vacuum_plan": (maintenance_vacuum_plan, MAINTENANCE_VACUUM_SQL),
    "privacy_l_diversity": (privacy_l_diversity, PRIVACY_L_DIVERSITY_SQL),
}
