"""Relational family: the SQL surface Spark offers natively and the
reference lacks — joins (broadcast, shuffled, semi/anti, as-of, range,
lateral, skewed, bucketed), aggregates and grouping sets, window
frames, pivots, set operations, recursive CTEs, function batteries —
plus the TPC-H pattern suite adapted to the trimmed testdata schema,
the mergeable sketches, and the event-table statistics.

Also home of what every family shares: the table reader ``_t``, the
one events reader (``_read_events``, the only place that sets
``spark.sql.legacy.parquet.nanosAsLong``) with its ``_events``
epoch-second view and the deterministic ``_stage_dir``.

Money aggregates use the exact integer fragments of
``functions/exactnum.py`` so Spark and DuckDB round identically.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.exactnum import (
    cents_avg,
    cents_avg_sql,
    cents_sum,
    cents_sum_round,
    cents_sum_round_sql,
    cents_sum_sql,
)
from archive_to_parquet_spark.functions.text import terms_col


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table, readable under both driver testdata layouts —
    every events read goes through here.

    Older driver data stores ts as parquet TIMESTAMP(NANOS), which Spark
    only reads with ``nanosAsLong`` (runtime-settable; it loads ts as
    int64 nanos). Newer data uses timestamp[us], which loads as
    TIMESTAMP_NTZ and is unaffected by the conf.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _t(spark, sf_dir, "events")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts_sec as epoch-second long under both layouts.

    int64 nanos take integer division (never float — 1.7e18 doesn't
    fit a double's mantissa) to exact epoch seconds; TIMESTAMP_NTZ is
    cast under the session tz, pinned UTC, so the cast relabels
    without shifting wall-clock values. DuckDB oracle side is layout-
    independent: ``epoch_ns(ts) // 1000000000``.
    """
    ev = _read_events(spark, sf_dir)
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        return ev.withColumn("ts_sec", F.expr("ts div 1000000000"))
    return ev.withColumn(
        "ts_sec", F.unix_seconds(F.col("ts").cast("timestamp"))
    )


# ---------------------------------------------------------------------------
# Relational surface (SURVEY.md §2.8 — native Spark, declared + tested)
# ---------------------------------------------------------------------------

def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter → hash agg with partial
    (map-side) combine; no join, one shuffle on the two group cols."""
    from archive_to_parquet_spark.functions.exactnum import (
        cents_col,
        iavg_cents,
        isum_2dp,
        isum_round,
    )

    li = _t(spark, sf_dir, "lineitem")
    # exact integer money units (functions/exactnum.py), pre-projected
    # ONCE per row (aggregate update expressions aren't CSE'd): double
    # sums would round differently under different partitionings
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag",
            "l_linestatus",
            cents_col("l_quantity").alias("qty_c"),
            cents_col("l_extendedprice").alias("price_c"),
            cents_col("l_discount").alias("disc_p"),
            cents_col("l_tax").alias("tax_p"),
        )
        .withColumn("rev_e4", F.expr("price_c * (100 - disc_p)"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            isum_2dp("qty_c", "sum_qty"),
            isum_2dp("price_c", "sum_base_price"),
            isum_round("rev_e4", 4, "sum_disc_price"),
            isum_round("rev_e4 * (100 + tax_p)", 6, "sum_charge"),
            iavg_cents("qty_c", 4, "avg_qty"),
            iavg_cents("price_c", 4, "avg_price"),
            iavg_cents("disc_p", 4, "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_DISC_E4_SQL = (
    "(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
)
_CHARGE_E6_SQL = (
    "(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    " * (100 + CAST(round(l_tax * 100) AS BIGINT)))"
)

REL_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {cents_sum_sql("l_quantity")} AS sum_qty,
       {cents_sum_sql("l_extendedprice")} AS sum_base_price,
       {cents_sum_round_sql(_DISC_E4_SQL, 4)} AS sum_disc_price,
       {cents_sum_round_sql(_CHARGE_E6_SQL, 6)} AS sum_charge,
       {cents_avg_sql("l_quantity", 4)} AS avg_qty,
       {cents_avg_sql("l_extendedprice", 4)} AS avg_price,
       {cents_avg_sql("l_discount", 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def rel_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join: lineitem ⨝ orders (shuffle, the two big tables) ⨝
    broadcast(customer) ⨝ broadcast(nation). Dims are broadcast so the
    only exchange is the big-big join on orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    disc_e4 = (
        "(cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
        " * (100 - cast(floor(l_discount * 100 + 0.5) as bigint)))"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            cents_sum_round(disc_e4, 4, "revenue"),
            F.count("*").alias("n_items"),
        )
    )


REL_REVENUE_SQL = f"""
SELECT n_name,
       {cents_sum_round_sql(_DISC_E4_SQL, 4)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def rel_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value with deterministic tiebreak — TakeOrderedAndProject,
    no full sort."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


REL_TOP_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def rel_window_top3_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (row_number over partition)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn")
    )


REL_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
  FROM orders
) WHERE rn <= 3
"""


def rel_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS); broadcast the orders keys' distinct set
    would be wrong at scale — Spark plans a shuffled left-anti here."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


REL_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def rel_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) + agg — TPC-H Q4 shape."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


REL_SEMI_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def rel_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed agg over the event stream table (batch form of the
    streaming tumbling window). hour_sec = epoch seconds floored to hour,
    pure integer math on both engines."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("hour_sec", F.col("ts_sec") - F.col("ts_sec") % 3600)
        .groupBy("hour_sec", "event_type")
        .agg(
            F.count("*").alias("n"),
            cents_sum("value", "total_value"),
        )
    )


REL_EVENTS_HOURLY_SQL = f"""
SELECT (epoch_ns(ts) // 1000000000) - ((epoch_ns(ts) // 1000000000) % 3600) AS hour_sec,
       event_type, COUNT(*) AS n, {cents_sum_sql("value")} AS total_value
FROM events
GROUP BY 1, 2
"""


def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 1800 s inactivity gap → session count per user
    (lag + conditional cumsum; single shuffle on user_id)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    flagged = ev.withColumn(
        "new_session",
        (
            F.col("ts_sec") - F.lag("ts_sec").over(w) > 1800
        ).cast("int"),
    )
    return flagged.groupBy("user_id").agg(
        (F.coalesce(F.sum("new_session"), F.lit(0)) + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


REL_SESSIONIZE_SQL = """
WITH t AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
), flagged AS (
  SELECT user_id,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM t
)
SELECT user_id,
       CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, the
    first view, the first click AFTER that view, the first purchase
    AFTER that click; then stage user-counts and conversion rates.

    Scale shape: all three stage times are windows over the SAME
    partition key (user_id) — one Exchange, three Window nodes, no
    extra shuffle per stage; the final rollup is a single-row global
    agg. This is the standard funnel plan at any scale: event volume
    streams through one user-keyed shuffle."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id")
    staged = ev.select(
        "user_id",
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_sec"))
        ).over(wu).alias("t_view"),
        "event_type",
        "ts_sec",
    )
    staged = staged.select(
        "user_id",
        "t_view",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_sec") > F.col("t_view")),
                F.col("ts_sec"),
            )
        ).over(wu).alias("t_click"),
        "event_type",
        "ts_sec",
    )
    staged = staged.select(
        "user_id",
        "t_view",
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_sec") > F.col("t_click")),
                F.col("ts_sec"),
            )
        ).over(wu).alias("t_purchase"),
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.col("t_view")).alias("n_viewed"),
        F.count(F.col("t_click")).alias("n_clicked_after"),
        F.count(F.col("t_purchase")).alias("n_purchased_after"),
        F.round(
            F.count(F.col("t_click")) / F.greatest(F.count(F.col("t_view")), F.lit(1)), 6
        ).alias("view_to_click"),
        F.round(
            F.count(F.col("t_purchase"))
            / F.greatest(F.count(F.col("t_click")), F.lit(1)),
            6,
        ).alias("click_to_purchase"),
    )


REL_FUNNEL_SQL = """
WITH t AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
), v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts_sec END) AS t_view
  FROM t GROUP BY user_id
), c AS (
  SELECT t.user_id,
         min(CASE WHEN event_type = 'click' AND ts_sec > t_view THEN ts_sec END) AS t_click
  FROM t JOIN v ON t.user_id = v.user_id GROUP BY t.user_id
), p AS (
  SELECT t.user_id,
         min(CASE WHEN event_type = 'purchase' AND ts_sec > t_click THEN ts_sec END) AS t_purchase
  FROM t JOIN c ON t.user_id = c.user_id GROUP BY t.user_id
), u AS (
  SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
  FROM v JOIN c ON v.user_id = c.user_id JOIN p ON v.user_id = p.user_id
)
SELECT count(t_view) AS n_viewed,
       count(t_click) AS n_clicked_after,
       count(t_purchase) AS n_purchased_after,
       round(count(t_click) * 1.0 / greatest(count(t_view), 1), 6) AS view_to_click,
       round(count(t_purchase) * 1.0 / greatest(count(t_click), 1), 6) AS click_to_purchase
FROM u
"""


def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted by
    how many are active again N days later. One user-keyed window for
    the cohort day, one distinct on (user, day), one agg on (cohort,
    offset) — three shuffles total, each on a natural key."""
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id", F.floor(F.col("ts_sec") / 86400).alias("day")
    ).distinct()
    wu = Window.partitionBy("user_id")
    off = days.select(
        "user_id",
        "day",
        F.min("day").over(wu).alias("cohort_day"),
    ).withColumn("day_offset", F.col("day") - F.col("cohort_day"))
    return (
        off.groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


REL_COHORT_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day FROM events
), o AS (
  SELECT user_id, day,
         min(day) OVER (PARTITION BY user_id) AS cohort_day
  FROM d
)
SELECT cohort_day, day - cohort_day AS day_offset,
       count(DISTINCT user_id) AS n_active
FROM o GROUP BY cohort_day, day - cohort_day
ORDER BY cohort_day, day_offset
"""


def rel_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity matching over part names (levenshtein ≤ 2)
    via exact candidate generation + JVM levenshtein verification
    (operators/joins.py fuzzy_self_join; strategy="auto" picks the
    FastSS deletion-neighborhood engine for these short names — 8.7×
    the q-gram prefix path at sf0.1, same pair set). Typos are
    planted deterministically (every 97th part re-added under
    key+1000000 with its first character dropped — distance 1), and
    the oracle is DuckDB's brute-force levenshtein with the same
    length prefilter: the prefix filter is exact-preserving, so both
    engines must produce the identical pair set."""
    from archive_to_parquet_spark.operators.joins import fuzzy_self_join

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    planted = part.filter(F.col("p_partkey") % 97 == 0).select(
        (F.col("p_partkey") + F.lit(1000000)).alias("p_partkey"),
        F.substring("p_name", 2, 1000).alias("p_name"),
    )
    corpus = part.unionByName(planted)
    return fuzzy_self_join(corpus, "p_partkey", "p_name", max_edits=2, q=3)


REL_FUZZY_SQL = """
WITH corpus AS (
  SELECT p_partkey, p_name FROM part
  UNION ALL
  SELECT p_partkey + 1000000, substring(p_name, 2) FROM part
  WHERE p_partkey % 97 = 0
), n AS (
  SELECT p_partkey AS id, lower(p_name) AS t, length(p_name) AS len FROM corpus
  WHERE length(p_name) >= 3
)
SELECT a.id AS id_a, b.id AS id_b,
       levenshtein(a.t, b.t) AS dist
FROM n a JOIN n b
  ON a.id < b.id AND abs(a.len - b.len) <= 2
WHERE levenshtein(a.t, b.t) <= 2
"""


def rel_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: hourly event counts per type, each
    hour z-scored against the trailing 24 observed hours (frame
    BETWEEN 24 PRECEDING AND 1 PRECEDING), flagging |z| ≥ 2. One agg
    shuffle on (type, hour) + one window keyed by type — the window
    partitions by event_type so no single-partition stage exists, and
    the frame is bounded so state is O(24) per partition."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.select(
            "event_type", F.floor(F.col("ts_sec") / 3600).alias("hour")
        )
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("n").over(w).alias("n_window"),
    )
    # threshold on the ROUNDED z (both engines): a boundary row can't
    # flip on float accumulation-order differences across engines
    z = F.round(((F.col("n") - F.col("mu")) / F.col("sigma")), 4)
    return (
        scored.filter(
            (F.col("n_window") >= 12) & (F.col("sigma") > 0)
        )
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2.0)
        .select(
            "event_type",
            "hour",
            "n",
            F.round("mu", 4).alias("mu"),
            "z",
        )
        .orderBy("event_type", "hour")
    )


REL_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 3600 AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sigma,
         count(n) OVER w AS n_window
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n,
       round(mu, 4) AS mu,
       round((n - mu) / sigma, 4) AS z
FROM scored
WHERE n_window >= 12 AND sigma > 0
  AND abs(round((n - mu) / sigma, 4)) >= 2.0
ORDER BY event_type, hour
"""


def rel_supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg over supplier."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            cents_sum("s_acctbal", "total_acctbal"),
            F.count("*").alias("n_suppliers"),
        )
    )


REL_SUPPLIER_SQL = f"""
SELECT n_name, {cents_sum_sql("s_acctbal")} AS total_acctbal,
       COUNT(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def rel_part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-agg grouping over part (min/max/avg/count distinct).

    avg is exact integer math (price cents summed as long, half-up to
    4dp via ``(2·Σ·100 + n) div 2n``), NOT ``round(avg(double), 4)``:
    a double sum is accumulation-order-dependent, so its 4dp rounding
    can flip with the session's partition count — this entry was the
    one vanilla-session (200 shuffle partitions) hash flip in the
    round-4 pre-flight. min/max are order-independent picks and stay
    as-is.
    """
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    return (
        _t(spark, sf_dir, "part")
        .withColumn("cents", cents)
        .groupBy("p_brand")
        .agg(
            (
                F.expr("(2 * sum(cents) * 100 + count(*)) div (2 * count(*))")
                / F.lit(10000.0)
            ).alias("avg_price"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.countDistinct("p_type").alias("n_types"),
            F.count("*").alias("n_parts"),
        )
    )


REL_PART_SQL = """
SELECT p_brand,
       ((2 * CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
           * 100 + COUNT(*)) // (2 * COUNT(*))) / 10000.0 AS avg_price,
       round(MIN(p_retailprice), 2) AS min_price,
       round(MAX(p_retailprice), 2) AS max_price,
       COUNT(DISTINCT p_type) AS n_types,
       COUNT(*) AS n_parts
FROM part GROUP BY p_brand
"""


def rel_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — hierarchical subtotals."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            cents_sum("l_quantity", "sum_qty"),
            F.count("*").alias("n"),
        )
    )


REL_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {cents_sum_sql("l_quantity")} AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def rel_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all subtotal combinations."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            cents_sum("o_totalprice", "total"),
        )
    )


REL_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {cents_sum_sql("o_totalprice")} AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


REL_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def rel_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority."""
    piv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_finished"),
        F.coalesce("P", F.lit(0)).alias("n_pending"),
    )


REL_PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders GROUP BY o_orderpriority
"""


def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: customers with urgent orders but no low-priority
    orders, and the intersection size as a second marker column."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    # subtract = SQL EXCEPT (set semantics); exceptAll would be the
    # multiset form and keeps customers with more urgent than low orders
    return urgent.subtract(low).select(F.col("o_custkey").alias("custkey"))


REL_SET_OPS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
"""


def rel_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the user's most recent click
    at-or-before it (window implementation — operators/joins.py; DuckDB's
    native ASOF JOIN is the oracle). Times keyed on exact int64 nanos so
    ties cannot arise."""
    from archive_to_parquet_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("t_ns")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("t_ns"),
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_time="t_ns", right_time="t_ns"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round("click_value_right", 4).alias("click_value"),
        F.col("click_event_id_right").alias("click_event_id"),
    )


REL_ASOF_SQL = """
WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts) AS t_ns FROM events),
p AS (SELECT event_id, user_id, t_ns FROM e WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_event_id, user_id, value AS click_value, t_ns FROM e WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       round(c.click_value, 4) AS click_value,
       c.click_event_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t_ns <= p.t_ns
"""


def rel_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: bucket orders into price bands via broadcast interval
    join (operators/joins.py range_join)."""
    from archive_to_parquet_spark.operators.joins import range_join

    bands = spark.createDataFrame(
        [
            ("low", 0.0, 50_000.0),
            ("mid", 50_000.0, 150_000.0),
            ("high", 150_000.0, 300_000.0),
            ("whale", 300_000.0, 10_000_000.0),
        ],
        "band string, lo double, hi double",
    )
    orders = _t(spark, sf_dir, "orders")
    joined = range_join(orders, bands, "o_totalprice")
    return joined.groupBy("band").agg(
        F.count("*").alias("n"),
        cents_sum("o_totalprice", "total"),
    )


REL_RANGE_JOIN_SQL = f"""
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
         ('high', 150000.0, 300000.0), ('whale', 300000.0, 10000000.0)
)
SELECT band, COUNT(*) AS n, {cents_sum_sql("o_totalprice")} AS total
FROM orders LEFT JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def rel_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events props column + agg."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
    )


REL_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) FILTER (WHERE json_extract_string(props, '$.k') IS NOT NULL) AS n_with_k
FROM events GROUP BY event_type
"""


def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


REL_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(MIN(value), 4) AS vmin,
       round(MAX(value), 4) AS vmax
FROM events GROUP BY event_type
"""


def rel_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function coverage: sqrt/ln/pow/abs/ceil/floor, rounded."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.log("p_retailprice"), 6).alias("ln_price"),
        F.round(F.pow(F.col("p_size").cast("double"), 2), 2).alias("size_sq"),
        F.ceil(F.col("p_retailprice")).alias("price_ceil"),
        F.floor(F.col("p_retailprice")).alias("price_floor"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
    )


REL_MATH_FUNCS_SQL = """
SELECT p_partkey,
       round(sqrt(p_retailprice), 6) AS sqrt_price,
       round(ln(p_retailprice), 6) AS ln_price,
       round(pow(CAST(p_size AS DOUBLE), 2), 2) AS size_sq,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       abs(p_size - 25) AS size_dev
FROM part
"""


def rel_intersect_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + HAVING: customers with both urgent and low-priority
    orders, restricted to those with more than 2 orders overall."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = urgent.intersect(low)
    counts = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 2)
    )
    return both.join(counts, "o_custkey").select(
        F.col("o_custkey").alias("custkey"), "n_orders"
    )


REL_INTERSECT_SQL = """
WITH both_prios AS (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
)
SELECT o_custkey AS custkey, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey IN (SELECT o_custkey FROM both_prios)
GROUP BY o_custkey HAVING COUNT(*) > 2
"""


def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage: case, substring, replace, edit
    distance — all deterministic per row."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.regexp_replace("p_type", "[aeiou]", "_").alias("type_devoweled"),
        F.levenshtein("p_brand", F.lit("Brand#10")).alias("brand_dist"),
        F.length("p_name").alias("name_len"),
        F.reverse("p_brand").alias("brand_rev"),
    )


REL_STRING_FUNCS_SQL = """
SELECT p_partkey,
       upper(substring(p_name, 1, 8)) AS name_prefix,
       regexp_replace(p_type, '[aeiou]', '_', 'g') AS type_devoweled,
       levenshtein(p_brand, 'Brand#10') AS brand_dist,
       CAST(length(p_name) AS INT) AS name_len,
       reverse(p_brand) AS brand_rev
FROM part
"""


def rel_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: running sum + trailing-3 moving average per
    customer over their order history."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    trailing3 = w.rowsBetween(-2, 0)
    # exact integer cents inside the frames: engines may evaluate
    # sliding windows with different accumulation structures (running
    # scan vs segment tree), so double frame-sums aren't comparable
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        orders.withColumn("cents", cents)
        .select(
            "o_custkey",
            "o_orderkey",
            (F.sum("cents").over(running) / F.lit(100.0)).alias(
                "running_total"
            ),
            F.sum("cents").over(trailing3).alias("s3"),
            F.count(F.lit(1)).over(trailing3).alias("n3"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "running_total",
            F.expr(
                "cast((2 * s3 * 100 + n3) div (2 * n3) as double) / 10000.0"
            ).alias("moving_avg3"),
        )
    )


REL_RUNNING_SQL = """
WITH c AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(SUM(cents) OVER w_run AS BIGINT) / 100.0 AS running_total,
       ((2 * CAST(SUM(cents) OVER w_3 AS BIGINT) * 100 + COUNT(*) OVER w_3)
        // (2 * COUNT(*) OVER w_3)) / 10000.0 AS moving_avg3
FROM c
WINDOW
  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def rel_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into an agg
    + join): orders 1.5× above their customer's average."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sub")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM orders_sub o
        WHERE cast(floor(o_totalprice * 100 + 0.5) as bigint) * 2 * (
            SELECT count(*) FROM orders_sub i
            WHERE i.o_custkey = o.o_custkey
        ) > 3 * (
            SELECT sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))
            FROM orders_sub i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


# price > 1.5·avg ⟺ 2·price_cents·n > 3·Σcents — exact integers on both
# engines, so boundary orders can't flip with accumulation order
REL_CORRELATED_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders o
WHERE CAST(round(o_totalprice * 100) AS BIGINT) * 2 * (
    SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey
) > 3 * (
    SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


def rel_ship_delay_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: year/month extraction + day-difference agg across
    the lineitem ⨝ orders join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (
        joined.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.round(F.avg(F.datediff("l_shipdate", "o_orderdate")), 4).alias(
                "avg_ship_delay_days"
            ),
            F.count("*").alias("n_items"),
        )
    )


REL_SHIP_DELAY_SQL = """
SELECT EXTRACT(year FROM o_orderdate) AS order_year,
       EXTRACT(month FROM o_orderdate) AS order_month,
       round(AVG(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_ship_delay_days,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch operators with in-query self-validation: per order
    priority, HyperLogLog++ distinct customers (approx_count_distinct,
    rsd 2%) checked against the exact distinct count, and KLL-style
    approximate percentiles (percentile_approx, accuracy 10k) checked
    against exact interpolated percentiles — each emitted as an ``ok``
    flag with the exact value, so the oracle (which computes only the
    exact side and asserts the flags are 1) deterministically certifies
    the sketches' error bounds. Both sketches are mergeable partial
    aggregates: map-side partial, one shuffle on the group key, no
    second pass over the data for the approximate path."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # pre-distinct then count: HLL over the distinct set is the same
    # estimate as over the multiset, and this avoids the Expand node
    # countDistinct-plus-other-aggs plans (which doubles scan output) —
    # one distinct shuffle with map-side partials, then a tiny agg
    dist = (
        orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("exact_distinct"),
            F.approx_count_distinct("o_custkey", 0.02).alias("hll"),
        )
    )
    dist = dist.select(
        F.col("o_orderpriority").alias("grp"),
        "exact_distinct",
        (
            F.abs(F.col("hll") - F.col("exact_distinct"))
            / F.greatest(F.col("exact_distinct"), F.lit(1))
            <= 0.06  # 3x the requested rsd
        )
        .cast("int")
        .alias("hll_ok"),
    )
    # Exact discrete percentiles (ACTUAL data values, no interpolation —
    # interpolated percentiles differ across engines in the last ulp and
    # flip 2dp rounding at .xx5 boundaries) via one window sort: the
    # smallest value with rank >= ceil(p*n) IS percentile_disc, and a
    # single partitioned sort beats two buffering percentile_disc
    # aggregates 2.2x (measured at sf0.1). The groupBy after the window
    # reuses the window's hash partitioning — no second exchange. Note
    # the parallelism bound: each group sorts on one partition (true of
    # the percentile_disc aggregate too); fine for low-cardinality
    # grouping keys, use percentile_approx alone when groups are huge.
    wsort = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wall = Window.partitionBy("l_returnflag")
    ranked = li.select("l_returnflag", "l_extendedprice").select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(wsort).alias("rn"),
        F.count("*").over(wall).alias("n"),
    )
    pct = ranked.groupBy("l_returnflag").agg(
        F.min(
            F.when(
                F.col("rn") >= F.ceil(0.5 * F.col("n")), F.col("l_extendedprice")
            )
        ).alias("p50_exact"),
        F.min(
            F.when(
                F.col("rn") >= F.ceil(0.95 * F.col("n")), F.col("l_extendedprice")
            )
        ).alias("p95_exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_a"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_a"),
    )
    pct = pct.select(
        F.col("l_returnflag").alias("grp"),
        F.round("p50_exact", 2).alias("p50_exact"),
        (F.abs(F.col("p50_a") - F.col("p50_exact")) / F.col("p50_exact") <= 0.01)
        .cast("int")
        .alias("p50_ok"),
        F.round("p95_exact", 2).alias("p95_exact"),
        (F.abs(F.col("p95_a") - F.col("p95_exact")) / F.col("p95_exact") <= 0.01)
        .cast("int")
        .alias("p95_ok"),
    )
    return (
        dist.join(pct, "grp", "full")
        .select(
            "grp",
            F.coalesce("exact_distinct", F.lit(-1)).alias("exact_distinct"),
            F.coalesce("hll_ok", F.lit(-1)).alias("hll_ok"),
            F.coalesce("p50_exact", F.lit(-1.0)).alias("p50_exact"),
            F.coalesce("p50_ok", F.lit(-1)).alias("p50_ok"),
            F.coalesce("p95_exact", F.lit(-1.0)).alias("p95_exact"),
            F.coalesce("p95_ok", F.lit(-1)).alias("p95_ok"),
        )
    )


SKETCH_ACCURACY_SQL = """
WITH dist AS (
  SELECT o_orderpriority AS grp,
         count(DISTINCT o_custkey) AS exact_distinct,
         1 AS hll_ok
  FROM orders GROUP BY o_orderpriority
), pct AS (
  SELECT l_returnflag AS grp,
         round(quantile_disc(l_extendedprice, 0.5), 2) AS p50_exact,
         1 AS p50_ok,
         round(quantile_disc(l_extendedprice, 0.95), 2) AS p95_exact,
         1 AS p95_ok
  FROM lineitem GROUP BY l_returnflag
)
SELECT coalesce(d.grp, p.grp) AS grp,
       coalesce(d.exact_distinct, -1) AS exact_distinct,
       coalesce(d.hll_ok, -1) AS hll_ok,
       coalesce(p.p50_exact, -1.0) AS p50_exact,
       coalesce(p.p50_ok, -1) AS p50_ok,
       coalesce(p.p95_exact, -1.0) AS p95_exact,
       coalesce(p.p95_ok, -1) AS p95_ok
FROM dist d FULL OUTER JOIN pct p ON d.grp = p.grp
"""


def rel_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL/posexplode coverage: word with its position per document
    (first 5 positions of even-id docs, to keep the result bounded);
    oracle via DuckDB unnest WITH ORDINALITY."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    words = F.split(F.lower(F.trim("text")), r"\s+")
    return (
        docs.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .filter(F.col("pos") < 5)
        .select("doc_id", "pos", "word")
    )


# DuckDB 1.0 has no WITH ORDINALITY — index via a generate_series lateral
REL_POSEXPLODE_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, words[i] AS word
FROM w, UNNEST(generate_series(1, least(len(words), 5))) AS t(i)
"""


def rel_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function coverage over the embedding column:
    slice, sort, min/max, filter-count — DuckDB list functions as the
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return emb.select(
        "vec_id",
        F.round(F.array_max(v).cast("double"), 6).alias("vmax"),
        F.round(F.array_min(v).cast("double"), 6).alias("vmin"),
        F.size(v).alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                F.slice(v, 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("head8_sum"),
    )


REL_ARRAY_FUNCS_SQL = """
SELECT vec_id,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
       CAST(len(embedding) AS INT) AS dim,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
       round(list_sum(embedding[1:8]::DOUBLE[]), 6) AS head8_sum
FROM embeddings
"""


def rel_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1+ WITH RECURSIVE): walk the implicit
    binary-heap parent tree over s_suppkey (parent = k DIV 2, root 0 —
    driver suppkeys are 0-based) and aggregate supplier account balance
    by tree depth. Exercises the iterative UnionLoop operator Spark
    added for recursive queries; depth is bounded by log2(|supplier|),
    far under the recursion limit.
    """
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_rec")
    return spark.sql(
        """
        WITH RECURSIVE walk(suppkey, depth) AS (
            SELECT CAST(0 AS BIGINT) AS suppkey, 0 AS depth
            UNION ALL
            SELECT s.s_suppkey, w.depth + 1
            FROM supplier_rec s JOIN walk w ON s.s_suppkey DIV 2 = w.suppkey
            WHERE s.s_suppkey >= 1
        )
        SELECT w.depth, COUNT(*) AS n,
               cast(sum(cast(floor(s.s_acctbal * 100 + 0.5) as bigint)) as double)
                 / 100.0 AS acctbal
        FROM walk w JOIN supplier_rec s ON s.s_suppkey = w.suppkey
        GROUP BY w.depth
        ORDER BY w.depth
        """
    )


REL_RECURSIVE_SQL = """
WITH RECURSIVE walk(suppkey, depth) AS (
  SELECT CAST(0 AS BIGINT) AS suppkey, 0 AS depth
  UNION ALL
  SELECT s.s_suppkey, w.depth + 1
  FROM supplier s JOIN walk w ON s.s_suppkey // 2 = w.suppkey
  WHERE s.s_suppkey >= 1
)
SELECT w.depth, COUNT(*) AS n,
       CAST(SUM(CAST(round(s.s_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS acctbal
FROM walk w JOIN supplier s ON s.s_suppkey = w.suppkey
GROUP BY w.depth
ORDER BY w.depth
"""


def rel_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function battery over one partitioned window: rank,
    dense_rank, percent_rank, cume_dist, ntile — one shuffle on the
    partition key, single window pass."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


REL_RANK_FUNCS_SQL = """
SELECT o_orderkey, o_orderpriority,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       round(PERCENT_RANK() OVER w, 6) AS prnk,
       round(CUME_DIST()    OVER w, 6) AS cume,
       NTILE(4)       OVER w AS quartile
FROM orders
WHERE o_orderstatus = 'F'
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def rel_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery: trunc, add, diff, last_day, parts,
    quarter — all pure expressions over one scan."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.trunc(d.cast("date"), "month").alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("plus_30d"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias(
            "days_to_2002"
        ),
    )


REL_DATETIME_FUNCS_SQL = """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(o_orderdate AS DATE) + 30 AS plus_30d,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       EXTRACT(quarter FROM o_orderdate) AS qtr,
       EXTRACT(dayofweek FROM o_orderdate) + 1 AS dow,
       EXTRACT(dayofyear FROM o_orderdate) AS doy,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
         AS days_to_2002
FROM orders
"""


def sketch_mergeable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-sketch pattern end-to-end: per-source Datasketches
    HLL sketches (hll_sketch_agg — a mergeable binary partial) are
    UNIONED (hll_union_agg) into a global estimate without re-scanning
    events, certified against the exact distinct count via the in-query
    ``ok`` flag (HLL lgK=14 keeps relative error well under 5%). The
    oracle computes only the exact side and asserts the flag."""
    ev = _events(spark, sf_dir)
    per_source = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = per_source.agg(
        F.count("*").alias("n_sources"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return merged.join(exact).select(
        "n_sources",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        )
        .cast("int")
        .alias("ok"),
    )


SKETCH_MERGEABLE_HLL_SQL = """
SELECT (SELECT COUNT(DISTINCT event_type) FROM events) AS n_sources,
       COUNT(DISTINCT user_id) AS exact_distinct,
       1 AS ok
FROM events
"""


def rel_trailing_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, the average order value over
    the trailing 30 days (inclusive) of each order — a value-range
    frame, not a row-count frame; one shuffle on the partition key."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    day = F.unix_seconds(F.col("o_orderdate").cast("timestamp")) / 86400
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-30, 0)
    )
    # exact cents inside the sliding frame (engines may use different
    # frame-accumulation structures for RANGE windows)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return orders.withColumn("cents", cents).select(
        "o_orderkey",
        "o_custkey",
        (F.sum("cents").over(w) / F.lit(100.0)).alias("sum_30d"),
        F.count("*").over(w).alias("n_in_window"),
    )


REL_TRAILING_WINDOW_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
         / 100.0 AS sum_30d,
       COUNT(*) OVER w AS n_in_window
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) // 86400 AS BIGINT)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


def rel_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands / SCD-2 interval construction: per user, runs of
    consecutive equal event_type collapse to (valid_from, valid_to,
    n_events) rows. lag → change flag → conditional cumsum island id →
    group — one shuffle on user_id, the canonical change-capture
    transformation."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    changed = (
        (F.lag("event_type").over(w).isNull())
        | (F.lag("event_type").over(w) != F.col("event_type"))
    ).cast("int")
    islands = ev.select(
        "user_id", "event_type", "ts_sec", "event_id", changed.alias("chg")
    ).withColumn("island", F.sum("chg").over(w))
    return islands.groupBy("user_id", "island").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts_sec").alias("valid_from_sec"),
        F.max("ts_sec").alias("valid_to_sec"),
        F.count("*").alias("n_events"),
    ).select(
        "user_id", "island", "event_type",
        "valid_from_sec", "valid_to_sec", "n_events",
    )


REL_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         epoch_ns(ts) // 1000000000 AS ts_sec
  FROM events
), flagged AS (
  SELECT user_id, event_type, ts_sec, event_id,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
), islands AS (
  SELECT user_id, event_type, ts_sec,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
              AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island, event_type,
       MIN(ts_sec) AS valid_from_sec,
       MAX(ts_sec) AS valid_to_sec,
       COUNT(*) AS n_events
FROM islands
GROUP BY 1, 2, 3
"""


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed frequent-items sketch (Misra-Gries partials merged by
    a plain sum — operators/sketches.py) certifying the exact heavy
    hitters: tokens with count·100 > N. The semi-join against the
    candidate set means a guarantee violation would drop rows vs the
    exact-side oracle; with k=300 the MG error bound N/301 sits well
    under the N/100 threshold."""
    from archive_to_parquet_spark.operators.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    return heavy_hitters(tokens, "token", threshold_denom=100).select(
        F.col("item").alias("token"), "cnt"
    )


SKETCH_HEAVY_HITTERS_SQL = r"""
WITH t AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
), tok AS (
  SELECT token FROM t WHERE token IS NOT NULL AND length(token) > 0
), c AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
), s AS (
  SELECT SUM(cnt) AS total FROM c
)
SELECT token, cnt FROM c, s WHERE cnt * 100 > total
"""


# -- exact money arithmetic ----------------------------------------------------
#
# Every money column in the testdata is 2dp-discrete, so revenue
# l_extendedprice·(1−l_discount) is EXACT in integer 1e-4 units:
# cents × (100 − discount_percent). Summing doubles instead is
# accumulation-order-dependent — a different partition count can flip
# the rounded cent (caught live by tools/preflight_vanilla.py on
# round(avg(double),4)) — while integer sums are identical on every
# engine, partitioning, and executor count. The Spark and DuckDB
# fragments below are maintained as twins; `div` is Spark's integer
# division, `//` DuckDB's. Final half-up rounding is integer math too.
# int64 headroom: 1e-4-unit revenue sums reach ~1.5e15 per group at
# sf1; at extreme corpus scale switch the sum to DECIMAL(38,0) on both
# engines before int64 saturates (~sf1000 per group).

_REV_E4 = (
    "(cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
    " * (100 - cast(floor(l_discount * 100 + 0.5) as bigint)))"
)
_REV_E4_SQL = (
    "(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
)


def _rev_sum(alias: str, cond: str | None = None):
    """Σ revenue as exact integer 1e-4 units, half-up to 2dp."""
    term = _REV_E4 if cond is None else f"(case when {cond} then {_REV_E4} else 0 end)"
    return F.expr(
        f"cast((sum({term}) + 50) div 100 as double) / 100.0"
    ).alias(alias)


def _rev_sum_sql(cond: str | None = None) -> str:
    term = (
        _REV_E4_SQL
        if cond is None
        else f"(CASE WHEN {cond} THEN {_REV_E4_SQL} ELSE 0 END)"
    )
    return f"((CAST(SUM({term}) AS BIGINT) + 50) // 100) / 100.0"


# -- Q3: shipping priority -----------------------------------------------------

def tpch_q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective segment filter broadcast against orders, big-big join to
    lineitem on orderkey, revenue rollup per order, top-10 via
    TakeOrderedAndProject (no global sort)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_sum("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


TPCH_Q03_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_rev_sum_sql()} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# -- Q6: forecast revenue ------------------------------------------------------


def tpch_q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan→filter→agg; every predicate reaches the parquet scan
    (PushedFilters) and the single agg is map-side partial."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # discount revenue = cents × discount_percent, exact e4 units
            F.expr(
                "cast((sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
                " * cast(floor(l_discount * 100 + 0.5) as bigint)) + 50)"
                " div 100 as double) / 100.0"
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


TPCH_Q06_SQL = """
SELECT ((CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
              * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         + 50) // 100) / 100.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


# -- Q7: volume shipping -------------------------------------------------------


def tpch_q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent dimension resolutions on one fact row: supplier
    nation via l_suppkey, customer nation via orders→customer. Both dim
    chains broadcast; the only shuffle is lineitem ⨝ orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(_rev_sum("revenue"))
    )


TPCH_Q07_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS ship_year,
       {_rev_sum_sql()} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


# -- Q8: market share ----------------------------------------------------------


def tpch_q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total per year: conditional numerator (supplier from the
    target nation) over total regional revenue — one pass, two
    conditional aggregates, no second join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust_region = (
        _t(spark, sf_dir, "customer")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_region), orders.o_custkey == cust_region.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            # exact integer numerator/denominator; the 6dp share is
            # half-up integer math on the e4 sums (identical on both
            # engines regardless of partitioning). The scaled numerator
            # goes through DECIMAL(38,0) (HUGEINT on the oracle side)
            # so the ×1e6 never saturates int64.
            F.expr(
                "cast((2 * cast(sum(case when supp_nation = 'NATION_3' then "
                + _REV_E4
                + f" else 0 end) as decimal(38,0)) * 1000000 + sum({_REV_E4}))"
                f" div (2 * sum({_REV_E4})) as double) / 1000000.0"
            ).alias("mkt_share"),
            _rev_sum("total_revenue"),
        )
    )


TPCH_Q08_SQL = f"""
SELECT EXTRACT(year FROM o_orderdate) AS order_year,
       CAST((2 * SUM(CASE WHEN sn.n_name = 'NATION_3'
                      THEN {_REV_E4_SQL} ELSE 0 END) * 1000000
         + SUM({_REV_E4_SQL}))
        // (2 * SUM({_REV_E4_SQL})) AS BIGINT) / 1000000.0 AS mkt_share,
       {_rev_sum_sql()} AS total_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
"""


# -- Q10: returned items -------------------------------------------------------


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-line revenue per customer: filtered big-big join, dims
    broadcast, top-20 TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _rev_sum("revenue"),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {_rev_sum_sql()} AS revenue,
       COUNT(*) AS n_returned_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# -- Q11: important balances ---------------------------------------------------


def tpch_q11_important_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group totals kept only above a fraction of the global total — the
    scalar global is a one-row broadcast (cross join), never a
    collect()."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    bal_cents = "sum(cast(floor(s_acctbal * 100 + 0.5) as bigint))"
    per_nation = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.expr(bal_cents).alias("bal_c"),
            F.count("*").alias("n_suppliers"),
        )
    )
    total = supp.agg(F.expr(bal_cents).alias("global_c"))
    return (
        per_nation.join(F.broadcast(total))
        # exact threshold: cents·100 > global_cents·3 — no doubles in
        # the comparison, so a boundary nation can't flip with
        # accumulation order
        .filter(F.col("bal_c") * 100 > F.col("global_c") * 3)
        .select(
            "n_name",
            (F.col("bal_c") / 100.0).alias("nation_balance"),
            "n_suppliers",
        )
    )


TPCH_Q11_SQL = """
SELECT n_name,
       CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS nation_balance,
       COUNT(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) * 100
     > (SELECT CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
        FROM supplier) * 3
"""


# -- Q13: customer order-count distribution ------------------------------------


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation with an outer join: orders are pre-aggregated
    per customer BEFORE the join (smallest possible shuffle), customers
    with no orders enter at count 0 via the left join."""
    cust = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("c_count", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("n_customers"))
    )


TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


# -- Q14: promo revenue --------------------------------------------------------


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-numerator ratio per month over a broadcast dim join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
        )
        .agg(
            # 100·num/den at 6dp == num·1e8/den in 1e-6-of-a-percent
            # units — exact half-up integer math through DECIMAL(38,0)
            F.expr(
                "cast((2 * cast(sum(case when p_type = 'PROMO' then "
                + _REV_E4
                + f" else 0 end) as decimal(38,0)) * 100000000 + sum({_REV_E4}))"
                f" div (2 * sum({_REV_E4})) as double) / 1000000.0"
            ).alias("promo_pct"),
        )
    )


TPCH_Q14_SQL = f"""
SELECT EXTRACT(year FROM l_shipdate) AS ship_year,
       EXTRACT(month FROM l_shipdate) AS ship_month,
       CAST((2 * SUM(CASE WHEN p_type = 'PROMO'
                          THEN {_REV_E4_SQL} ELSE 0 END) * 100000000
             + SUM({_REV_E4_SQL}))
            // (2 * SUM({_REV_E4_SQL})) AS BIGINT) / 1000000.0 AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


# -- Q15: top supplier ---------------------------------------------------------


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg → scalar max → equality filter. Revenue is rounded BEFORE the
    max/compare on both engines so double accumulation order can't flip
    the winner."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(_rev_sum("revenue"))
    mx = rev.agg(F.max("revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), rev.l_suppkey == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue")
    )


TPCH_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, {_rev_sum_sql()} AS revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE revenue = (SELECT MAX(revenue) FROM rev)
"""


# -- Q16: brand supplier counts ------------------------------------------------


def tpch_q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) with a NOT-IN
    style dim exclusion; the distinct agg shuffles on the group key."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & (F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
GROUP BY 1, 2, 3
"""


# -- Q17: small-quantity revenue -----------------------------------------------


def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-part average threshold: the per-part avg is an
    aggregate joined back (broadcast — one row per part), not a window
    over the fact table. The threshold is rounded identically on both
    engines so boundary rows can't flip."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li_part = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # avg(qty)·0.5 at 6dp, exact: qty cents summed as long, then
    # (2·S·5000 + n) div 2n in 1e-6 units — the threshold every
    # boundary row compares against is identical on both engines
    avg_qty = li_part.groupBy("p_partkey").agg(
        F.expr(
            "cast((2 * sum(cast(floor(l_quantity * 100 + 0.5) as bigint)) * 5000"
            " + count(*)) div (2 * count(*)) as double) / 1000000.0"
        ).alias("qty_threshold")
    )
    return (
        li_part.join(
            F.broadcast(avg_qty.withColumnRenamed("p_partkey", "t_partkey")),
            li_part.l_partkey == F.col("t_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            # round(Σprice/7, 2): with S = Σcents, the target cents
            # value is S/7 half-up = (2S + 7) div 14
            F.expr(
                "cast((2 * sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint))"
                " + 7) div 14 as double) / 100.0"
            ).alias("avg_yearly"),
            F.count("*").alias("n_small_lines"),
        )
    )


TPCH_Q17_SQL = """
WITH li_part AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
), thr AS (
  SELECT l_partkey AS t_partkey,
         ((2 * CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           * 5000 + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS qty_threshold
  FROM li_part GROUP BY 1
)
SELECT ((2 * CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         + 7) // 14) / 100.0 AS avg_yearly,
       COUNT(*) AS n_small_lines
FROM li_part JOIN thr ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold
"""


# -- Q18: large orders ---------------------------------------------------------


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Having-filtered agg (sum qty per order) joined back to orders and
    customers; the agg output is small → broadcast back against orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


TPCH_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS total,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# -- Q19: disjunctive predicate join -------------------------------------------


def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-conjuncts across the join: each disjunct pairs a dim
    predicate with a fact predicate — the shape that tests predicate
    normalization and partial pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    d2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    d3 = (
        (F.col("p_brand") == "Brand#34")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(d1 | d2 | d3).agg(
        _rev_sum("revenue"),
        F.count("*").alias("n_items"),
    )


TPCH_Q19_SQL = f"""
SELECT {_rev_sum_sql()} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# -- Q20: supplier semi chain --------------------------------------------------


def tpch_q20_supplier_semi_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join into a having-filtered aggregate: suppliers that moved
    more than a threshold quantity of ECONOMY parts. The agg result is
    the semi side (small), so the supplier scan never widens."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 500)
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(
            F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey, "left_semi"
        ).select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


TPCH_Q20_SQL = """
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 500
)
"""


# -- Q21: multi-exists ---------------------------------------------------------


def tpch_q21_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS on the same fact table, expressed as one
    conditional aggregation over orders (single shuffle on custkey)
    instead of two correlated subquery joins."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    flags = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderstatus") == "F").cast("int")).alias("has_f"),
        F.max((F.col("o_orderstatus") == "O").cast("int")).alias("has_o"),
        F.count("*").alias("n_orders"),
    )
    return (
        flags.filter((F.col("has_f") == 1) & (F.col("has_o") == 0))
        .join(F.broadcast(cust), flags.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "n_orders")
    )


TPCH_Q21_SQL = """
SELECT c_custkey, c_name, COUNT(*) AS n_orders
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE EXISTS (SELECT 1 FROM orders o2
              WHERE o2.o_custkey = c_custkey AND o2.o_orderstatus = 'F')
  AND NOT EXISTS (SELECT 1 FROM orders o3
                  WHERE o3.o_custkey = c_custkey AND o3.o_orderstatus = 'O')
GROUP BY 1, 2
"""


# -- Q22: idle customers -------------------------------------------------------


def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-average threshold + anti join + rollup: customers with an
    above-average positive balance and no RECENT orders (every customer
    in the testdata has some order, so the classic no-orders form would
    be vacuous), grouped by a derived code (custkey mod 10 stands in
    for the phone prefix)."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    # exact 6dp threshold over positive balances (cents are exact, the
    # half-up division is integer math — boundary customers can't flip)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        cents_avg("c_acctbal", 6, "avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("int").alias("code"))
        .agg(
            F.count("*").alias("n_customers"),
            cents_sum("c_acctbal", "total_bal"),
        )
    )


TPCH_Q22_SQL = f"""
SELECT CAST(c_custkey % 10 AS INTEGER) AS code,
       COUNT(*) AS n_customers,
       {cents_sum_sql("c_acctbal")} AS total_bal
FROM customer
WHERE c_acctbal > (SELECT {cents_avg_sql("c_acctbal", 6)} FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY 1
"""


# -- Q1: pricing summary -------------------------------------------------------


def tpch_q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic full-scan rollup: one shipdate predicate pushed to the
    scan, eight map-side-combinable aggregates, a 6-row result. The
    whole query is one stage + one tiny exchange on the 2-column key."""
    from archive_to_parquet_spark.functions.exactnum import (
        cents_col,
        iavg_cents,
        isum_2dp,
        isum_round,
    )

    li = _t(spark, sf_dir, "lineitem")
    # pre-project the integer units ONCE per row — aggregate update
    # expressions are not CSE'd, so inlining the floor-casts into all
    # 8 aggregates would evaluate them ~10× per row. charge =
    # price·(1−disc)·(1+tax), exact e6 units = rev_e4 · (100+tax%).
    return (
        li.filter(
            F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            cents_col("l_quantity").alias("qty_c"),
            cents_col("l_extendedprice").alias("price_c"),
            cents_col("l_discount").alias("disc_p"),
            cents_col("l_tax").alias("tax_p"),
        )
        .withColumn("rev_e4", F.expr("price_c * (100 - disc_p)"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            isum_2dp("qty_c", "sum_qty"),
            isum_2dp("price_c", "sum_base_price"),
            isum_round("rev_e4", 4, "sum_disc_price"),
            isum_round("rev_e4 * (100 + tax_p)", 6, "sum_charge"),
            iavg_cents("qty_c", 6, "avg_qty"),
            iavg_cents("price_c", 6, "avg_price"),
            iavg_cents("disc_p", 6, "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q01_CHARGE_E6_SQL = (
    "(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    " * (100 + CAST(round(l_tax * 100) AS BIGINT)))"
)

TPCH_Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {cents_sum_sql("l_quantity")} AS sum_qty,
       {cents_sum_sql("l_extendedprice")} AS sum_base_price,
       {_rev_sum_sql()} AS sum_disc_price,
       ((CAST(SUM({_Q01_CHARGE_E6_SQL}) AS BIGINT) + 5000) // 10000) / 100.0
         AS sum_charge,
       {cents_avg_sql("l_quantity", 6)} AS avg_qty,
       {cents_avg_sql("l_extendedprice", 6)} AS avg_price,
       {cents_avg_sql("l_discount", 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# -- Q2: minimum-cost supplier ------------------------------------------------


def tpch_q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group-minimum join-back (the testdata has no partsupp, so the
    'offer' relation is lineitem's observed (part, supplier, price)
    rows): filtered parts broadcast against lineitem, min price per
    part, equality join-back keeps every tied winner, then broadcast
    supplier→nation→region chain restricted to EUROPE. Two shuffles
    total (the min agg and its join-back on partkey)."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") < 10)
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name"))
    )
    offers = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_name", "s_acctbal", "n_name",
            F.col("l_extendedprice").alias("price"),
        )
    )
    min_price = offers.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("price").alias("min_price")
    )
    return (
        offers.join(
            min_price,
            (F.col("p_partkey") == F.col("mp_partkey"))
            & (F.col("price") == F.col("min_price")),
        )
        .select(
            "p_partkey", "p_name", "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name",
            F.round("min_price", 2).alias("min_price"),
        )
        .distinct()
    )


TPCH_Q02_SQL = """
WITH offers AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
         l_extendedprice AS price
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE p_type = 'ECONOMY' AND p_size < 10 AND r_name = 'EUROPE'
)
SELECT DISTINCT p_partkey, p_name, s_name,
       round(s_acctbal, 2) AS s_acctbal, n_name,
       round(price, 2) AS min_price
FROM offers o
WHERE price = (SELECT MIN(price) FROM offers m
               WHERE m.p_partkey = o.p_partkey)
"""


# -- Q4: order priority checking ----------------------------------------------


def tpch_q04_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join with a non-equi residual (the testdata
    has no commit/receipt dates, so 'late' = shipped more than 60 days
    after ordering). Orders' date window is pushed to the scan; the
    semi join shuffles on orderkey and keeps no lineitem columns."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


TPCH_Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# -- Q5: local supplier volume -------------------------------------------------


def tpch_q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue where the customer and the line's supplier share a
    nation, per ASIA nation for one year. The distinguishing feature is
    the residual equality BETWEEN two dimension chains
    (c_nationkey = s_nationkey) on top of the fact joins: customer and
    supplier both resolve via broadcast, orders⨝lineitem is the one
    big-big shuffle, and the nation equality is applied as a post-join
    filter on broadcast-resolved columns."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(_rev_sum("revenue"))
    )


TPCH_Q05_SQL = f"""
SELECT n_name, {_rev_sum_sql()} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# -- Q9: product type profit ---------------------------------------------------


def tpch_q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and order year for a name-filtered part
    family (no partsupp → profit is discounted revenue). Part filter
    and the supplier→nation chain broadcast against lineitem; the only
    big-big shuffle is lineitem⨝orders for the year column."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_rev_sum("sum_profit"))
    )


TPCH_Q09_SQL = f"""
SELECT n_name AS nation,
       EXTRACT(year FROM o_orderdate) AS o_year,
       {_rev_sum_sql()} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


# -- Q12: shipping-priority split ----------------------------------------------


def tpch_q12_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional two-way counts per category (the testdata has no
    l_shipmode, so the category is l_returnflag): a date-windowed fact
    scan joined to orders, with CASE aggregation splitting critical
    (URGENT/HIGH) from other priorities. One shuffle on orderkey, one
    tiny agg exchange."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("low_line_count"),
        )
    )


TPCH_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


def _stage_dir(kind: str, sf_dir: str) -> str:
    """Deterministic staging dir per (kind, sf_dir): repeated runs
    overwrite the same location instead of leaking a fresh mkdtemp per
    invocation (the writers below all use mode("overwrite"))."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"a2ps_stage_{kind}_{tag}")
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# Time-decayed aggregation
# ---------------------------------------------------------------------------

def rel_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user aggregates (1-day half-life,
    anchored at the corpus max timestamp): the standard recency-weighted
    engagement score. ``w = exp(-ln2 · Δt / 86400)`` per event, then
    ``Σ w·value`` and ``Σ w`` per user — a plain weighted sum, so it
    stays a single map-side-partial groupBy (decayed sums are mergeable
    partials, unlike a recursive EWMA formulation which would force an
    ordered scan per user).

    Scale: one tiny broadcast (the global max timestamp — one row) and
    one shuffle on user_id. Floats rounded to 2dp on both sides.
    """

    ev = _events(spark, sf_dir).select("user_id", "value", "ts_sec")
    tmax = ev.agg(F.max("ts_sec").alias("tmax_sec"))
    w = F.exp(
        -F.log(F.lit(2.0)) * (F.col("tmax_sec") - F.col("ts_sec")) / F.lit(86400.0)
    )
    return (
        ev.crossJoin(F.broadcast(tmax))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(w * F.col("value")), 2).alias("decayed_value"),
            F.round(F.sum(w), 2).alias("decayed_count"),
        )
    )


REL_DECAYED_SUM_SQL = """
WITH e AS (
  SELECT user_id, value, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
), m AS (
  SELECT max(ts_sec) AS tmax_sec FROM e
)
SELECT user_id,
       COUNT(*) AS n_events,
       round(SUM(exp(-ln(2) * (tmax_sec - ts_sec) / 86400.0) * value), 2)
         AS decayed_value,
       round(SUM(exp(-ln(2) * (tmax_sec - ts_sec) / 86400.0)), 2)
         AS decayed_count
FROM e, m
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Time-series gap-fill with forward fill (hypertable-style resample)
# ---------------------------------------------------------------------------

def rel_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample per user with gap-filling: forward-fill each gap
    hour with the last observed hourly average — the TimescaleDB
    ``time_bucket_gapfill + locf`` pattern as plain DataFrame ops.

    Plan shape (round-4 rewrite): each observed hour looks up its NEXT
    observed hour (``lead`` over the per-user hour order), then explodes
    ``sequence(h, next_h − 1)`` — every generated hour inherits the
    run's value directly, so the dense grid, its left join back to the
    observations, and the ``last(..., ignoreNulls)`` fill window are all
    gone. Two shuffles total (hourly agg, lead window) instead of four;
    the explode is narrow. Same output contract: ``is_gap`` marks hours
    with no observation.

    Scale: generated rows materialize only at the exploding task, never
    on the driver; the window carries one row per OBSERVED hour, not
    per grid hour. Averages are exact-integer rounded BEFORE the fill
    so both engines propagate identical values.
    """
    ev = _events(spark, sf_dir)
    hour = (F.col("ts_sec") / 3600).cast("long")
    # aggregate exact integer cents, not doubles: avg(double) is
    # accumulation-order-dependent across engines, and even on an exact
    # half (Σ=3841¢, n=2 → 19.205) Spark's round (HALF_UP on the
    # shortest decimal repr) and DuckDB's (on the binary value)
    # disagree — so the 2dp rounding itself is integer math too:
    # cents_rounded = (2Σ + n) div 2n, exact on both engines
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hourly = (
        ev.select("user_id", hour.alias("h"), cents.alias("cents"))
        .groupBy("user_id", "h")
        .agg(
            (
                F.expr("(2 * sum(cents) + count(*)) div (2 * count(*))")
                / F.lit(100.0)
            ).alias("avg_value")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("h")
    runs = hourly.select(
        "user_id",
        "h",
        "avg_value",
        F.coalesce(F.lead("h").over(w) - 1, F.col("h")).alias("run_end"),
    )
    return runs.select(
        "user_id",
        F.explode(F.sequence("h", "run_end")).alias("h_out"),
        "avg_value",
        F.col("h").alias("h_obs"),
    ).select(
        "user_id",
        F.col("h_out").alias("h"),
        F.col("avg_value").alias("value_filled"),
        (F.col("h_out") != F.col("h_obs")).cast("int").alias("is_gap"),
    )


REL_GAPFILL_SQL = """
WITH e AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000) // 3600 AS h, value FROM events
), hourly AS (
  SELECT user_id, h,
         ((2 * SUM(CAST(round(value * 100) AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*))) / 100.0
           AS avg_value
  FROM e GROUP BY 1, 2
), span AS (
  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT s.user_id, g.h
  FROM span s, LATERAL (SELECT unnest(generate_series(s.h0, s.h1)) AS h) g
)
SELECT g.user_id, g.h,
       last_value(hy.avg_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_filled,
       CAST(hy.avg_value IS NULL AS INT) AS is_gap
FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
"""


# ---------------------------------------------------------------------------
# Native session_window aggregation (batch form of the streaming API)
# ---------------------------------------------------------------------------

def rel_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE ``session_window``
    (the same operator the streaming sessionizer uses, in batch mode) —
    complements `rel_sessionize`, which counts sessions with the
    lag+cumsum idiom. One shuffle on the session key; the session
    assignment itself is a sort-based merge inside the aggregation, not
    a window function.

    Boundary semantics (verified against an exactly-1800 s gap in the
    sf0.1 data, and the oracle mirrors them): per-event windows
    [t, t + gap] merge when they TOUCH, so an event at exactly
    last_event + 1800 stays in the session — the same `> timeout`
    split rule as the lag idiom; only strictly larger gaps start a new
    session. Value sums are integer cents (see rel_gapfill_hourly).
    """
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.select(
            "user_id",
            F.timestamp_seconds(F.col("ts_sec")).alias("t"),
            cents.alias("cents"),
        )
        .groupBy("user_id", F.session_window("t", "1800 seconds").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("session_cents"),
        )
        .select(
            "user_id",
            F.unix_seconds(F.col("sw.start")).alias("session_start"),
            "n_events",
            "session_cents",
        )
    )


REL_SESSION_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS ts_sec
  FROM events
), flagged AS (
  SELECT user_id, ts_sec, value,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM t
), numbered AS (
  SELECT user_id, ts_sec, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_sec
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts_sec) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS session_cents
FROM numbered
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Unpivot (melt) — the inverse of rel_pivot_status
# ---------------------------------------------------------------------------

def rel_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long: melt each part's numeric metrics into (metric,
    value) rows with the native ``unpivot`` operator (SQL ``stack``) —
    the inverse of `rel_pivot_status`. Per-row fan-out only, no
    shuffle; Catalyst prunes unselected metric columns from the scan.
    """
    part = _t(spark, sf_dir, "part")
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    ).select("p_partkey", "metric", F.round(F.col("value"), 2).alias("value"))


REL_UNPIVOT_SQL = """
SELECT p_partkey, 'p_size' AS metric, round(CAST(p_size AS DOUBLE), 2) AS value
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, round(p_retailprice, 2) AS value
FROM part
"""


# ---------------------------------------------------------------------------
# Count-min sketch word frequencies
# ---------------------------------------------------------------------------

_CM_ROWS = 3
_CM_WIDTH = 1024
_CM_MIN_EXACT = 50  # report words whose exact count clears this


def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over document words: a d=3 × w=1024 counter
    matrix (counter[i][md5("cm{i}"+word) % w] += 1), point estimate =
    min over rows — always ≥ the true count, with collision overshoot
    bounded by the row width. Emitted next to the exact count for every
    word with exact n ≥ 50, certifying estimate ≥ exact and exposing
    real collision error instead of hiding it.

    Scale: the sketch is a fixed d×w integer grid built by one
    map-side-combinable groupBy — mergeable across shards/streams by
    addition, the standard fixed-memory frequency store at 100 TB. The
    per-word estimate lookup joins d counter rows per word (broadcast:
    the sketch is ≤ d·w rows by construction).
    """
    docs = _t(spark, sf_dir, "documents")
    # round 11 negative result (kept lazy + narrow): BOTH a
    # spread_small_scan on the input (rebuild 1.43 → 1.57 s — the
    # repartition re-executes in all four legs) and a localCheckpoint
    # of the bounded sketch (rebuild 1.43 → 1.77 s — serial barrier)
    # measured WORSE at sf0.1; the four ~0.9 s single-task legs are
    # cheaper than either fix locally. At 100 TB the checkpoint form
    # is the right one (d fewer corpus passes).
    words = docs.select(F.explode(terms_col("text")).alias("word"))
    # all d sketch-row positions from ONE scan: explode a struct array
    # per word (the union-of-d-selects form re-ran the regex word
    # extraction d times — measured 3 scans → 1)
    def bucket(i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cm{i}"), F.col("word"))), 1, 8),
                16,
                10,
            ).cast("long")
            % _CM_WIDTH
        )

    occurrences = words.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"), bucket(i).alias("bucket")
                    )
                    for i in range(_CM_ROWS)
                ]
            )
        ).alias("rc")
    ).select("rc.cm_row", "rc.bucket")
    sketch = occurrences.groupBy("cm_row", "bucket").agg(
        F.count("*").alias("counter")
    )

    exact = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_n"))
        .filter(F.col("exact_n") >= _CM_MIN_EXACT)
    )
    lookups = exact.select(
        "word",
        "exact_n",
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"cm{i}"), F.col("word"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % _CM_WIDTH
            ).alias(f"b{i}")
            for i in range(_CM_ROWS)
        ],
    )
    est = lookups
    for i in range(_CM_ROWS):
        row_i = sketch.filter(F.col("cm_row") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("counter").alias(f"c{i}")
        )
        est = est.join(F.broadcast(row_i), f"b{i}")
    return est.select(
        "word",
        "exact_n",
        F.least(*[F.col(f"c{i}") for i in range(_CM_ROWS)]).alias("cm_estimate"),
    )


def _countmin_oracle_sql() -> str:
    pos = {
        i: f"(('0x' || substr(md5('cm{i}' || word), 1, 8))::BIGINT) % {_CM_WIDTH}"
        for i in range(_CM_ROWS)
    }
    unions = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS cm_row, {pos[i]} AS bucket FROM words"
        for i in range(_CM_ROWS)
    )
    joins = "\n".join(
        f"JOIN sketch s{i} ON s{i}.cm_row = {i} AND s{i}.bucket = {pos[i]}"
        for i in range(_CM_ROWS)
    )
    least = ", ".join(f"s{i}.counter" for i in range(_CM_ROWS))
    return f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), occurrences AS (
{unions}
), sketch AS (
  SELECT cm_row, bucket, COUNT(*) AS counter
  FROM occurrences GROUP BY cm_row, bucket
), exact AS (
  SELECT word, COUNT(*) AS exact_n FROM words
  GROUP BY word HAVING COUNT(*) >= {_CM_MIN_EXACT}
)
SELECT word, exact_n, least({least}) AS cm_estimate
FROM exact
{joins}
"""


SKETCH_COUNTMIN_SQL = _countmin_oracle_sql()


# ---------------------------------------------------------------------------
# Correlated LATERAL top-k
# ---------------------------------------------------------------------------


def rel_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by account balance per nation via a correlated
    LATERAL subquery with ORDER BY + LIMIT — Catalyst decorrelates it
    into a broadcast join + per-key limit, a different physical path
    from the window-function top-k (rel_window_top3_per_cust).
    Deterministic tiebreak on customer name."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_name, c_acctbal FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) t
        """
    )


REL_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 3
) t
"""


# ---------------------------------------------------------------------------
# Salted hot-key join
# ---------------------------------------------------------------------------


def rel_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-skew join through ``operators.skew.salted_join``: events
    join a per-type weight table on ``event_type`` — a 5-value key
    where every key is ~20% of the fact side, the exact shape AQE's
    split can't fully fix (one key ≥ one partition no matter how it
    splits). The left side is salted ``xxhash64(row) % 64`` and the
    weight table replicated 64×, so the shuffle spreads each hot key
    over 64 partitions; semantics stay exactly the plain equi-join's,
    which is what the oracle certifies.

    Floats stay deterministic via the integer-unit convention:
    per-type weight = integer div of summed cents, weighted product
    summed as integers (order-independent, overflow-sized: see the
    cents comment below).
    """
    from archive_to_parquet_spark.operators.skew import salted_join

    # cents, not micro-units: value ≤ ~560 → value_c ≤ 5.6e4, so the
    # per-row product weight_c·value_c ≤ ~3e9 and even 1e9 rows per key
    # sum within int64 (e6 units overflowed at sf0.1)
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_c"),
    )
    weights = ev.groupBy("event_type").agg(
        F.expr("sum(value_c) div count(*)").alias("weight_c")
    )
    # shuffle_hash hint: the weight table is tiny, so without it Spark
    # broadcasts and there is no shuffle for salting to spread
    joined = salted_join(ev, weights.hint("shuffle_hash"), "event_type", num_salts=64)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.first("weight_c").alias("weight_c"),
        F.sum(F.col("value_c") * F.col("weight_c")).alias("weighted_c2"),
    )


REL_SALTED_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS value_c
  FROM events
), w AS (
  SELECT event_type, CAST(SUM(value_c) // COUNT(*) AS BIGINT) AS weight_c
  FROM ev GROUP BY event_type
)
SELECT ev.event_type,
       COUNT(*) AS n_events,
       ANY_VALUE(w.weight_c) AS weight_c,
       CAST(SUM(ev.value_c * w.weight_c) AS BIGINT) AS weighted_c2
FROM ev JOIN w USING (event_type)
GROUP BY ev.event_type
"""


# ---------------------------------------------------------------------------
# Window-function panel
# ---------------------------------------------------------------------------


def rel_window_funcs_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass over orders exercising the analytic-window family the
    other entries don't: lag/lead (adjacent order gap per customer),
    ntile quartiles, percent_rank / cume_dist, and first/last_value
    over a running frame — all on ONE window partitioning (o_custkey),
    so the whole panel costs a single shuffle + sort.

    Determinism: ordering is total (o_orderkey tiebreak); percent_rank
    and cume_dist are single IEEE divisions of exact integers —
    identical in any engine (no accumulation, no transcendental).
    Restricted to custkey < 100 to keep the row count driver-friendly.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "long"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("price_c"),
        F.lag(cents, 1).over(w).alias("prev_price_c"),
        F.lead(cents, 1).over(w).alias("next_price_c"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first(cents).over(running).alias("first_price_c"),
        F.max(cents).over(running).alias("run_max_c"),
        F.sum(cents).over(running).alias("run_sum_c"),
    )


REL_WINDOW_PANEL_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS price_c,
       lag(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT), 1)
           OVER w AS prev_price_c,
       lead(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT), 1)
           OVER w AS next_price_c,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS first_price_c,
       max(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS run_max_c,
       CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT))
           OVER wrun AS BIGINT) AS run_sum_c
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
       wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Spark 4 features: VARIANT and SQL UDFs
# ---------------------------------------------------------------------------

def rel_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: each
    event is re-serialized to JSON (``to_json`` over a nested struct
    that embeds the raw ``props`` JSON string), parsed into a VARIANT,
    and the analysis reads ONLY variant paths — ``$.uid``, plus a
    second ``parse_json`` hop into the embedded props for ``$.k``.
    The oracle states the same aggregates from the base columns, so the
    whole VARIANT round-trip (binary encoding, path extraction, typed
    casts) must be lossless.

    Scale: VARIANT parse/extract are JVM expressions inside codegen —
    this is the schema-on-read path for heterogeneous event lakes, one
    scan, aggregation with map-side partials.
    """

    ev = _events(spark, sf_dir).select("event_type", "user_id", "props")
    v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.struct(F.col("props").alias("raw")).alias("nested"),
            )
        )
    )
    extracted = ev.select(
        "event_type",
        F.variant_get(v, "$.uid", "long").alias("uid"),
        F.variant_get(
            F.parse_json(F.variant_get(v, "$.nested.raw", "string")),
            "$.k",
            "long",
        ).alias("k"),
    )
    return extracted.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("uid").alias("sum_uid"),
        F.sum("k").alias("sum_k"),
    )


REL_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k
FROM events
GROUP BY event_type
"""


def rel_sql_udf_priceband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SQL-defined scalar function (Spark 4 ``CREATE FUNCTION ...
    RETURN <expr>``) used in a grouped aggregation. The function body
    is pure SQL, so Catalyst INLINES it — no Python worker, no UDF
    serialization boundary, full codegen — which is the right way to
    package reusable business logic on a 100 TB table. The oracle
    inlines the same CASE by hand.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION _price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 300000.0 THEN 'high'
                    WHEN p >= 150000.0 THEN 'mid'
                    ELSE 'low' END
        """
    )
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_udf_orders")
    return spark.sql(
        """
        SELECT _price_band(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                   AS BIGINT)) AS total_c
        FROM _udf_orders
        GROUP BY _price_band(o_totalprice)
        """
    )


REL_SQL_UDF_SQL = """
SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
            WHEN o_totalprice >= 150000.0 THEN 'mid'
            ELSE 'low' END AS band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS total_c
FROM orders
GROUP BY 1
"""




def rel_skew_isolated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The isolate-the-whales twin of ``rel_salted_hot_join``:
    ``operators.skew.skew_isolated_join`` routes keys above a row
    threshold through a broadcast path (a whale's dimension rows are
    few by definition) and everything else through the normal shuffle
    join — the right tool when ONE key dominates and salting the whole
    table is overkill. Events join per-type weights with the threshold
    set so the most frequent event_type takes the broadcast path; the
    oracle is the plain join + aggregate, certifying the two-path
    union changes nothing semantically.
    """
    from archive_to_parquet_spark.operators.skew import skew_isolated_join

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_c"),
    )
    weights = ev.groupBy("event_type").agg(
        F.expr("sum(value_c) div count(*)").alias("weight_c")
    )
    # threshold at 19% of the table: with 5 near-uniform types (~20%
    # each), every type above it is a "whale" at any SF
    n = ev.count()
    joined = skew_isolated_join(
        ev, weights, "event_type", threshold_rows=max(1, int(n * 0.19))
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.first("weight_c").alias("weight_c"),
        F.sum(F.col("value_c") * F.col("weight_c")).alias("weighted_c2"),
    )


REL_SKEW_ISOLATED_SQL = REL_SALTED_SQL


# ---------------------------------------------------------------------------
# Bucketed exchange-free join, driver-checked
# ---------------------------------------------------------------------------

def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-layout join (``plans.bucketing``) driver-checked:
    orders and lineitem are persisted as same-bucketed external tables
    on the orderkey, then joined and aggregated — ``bucketed_join``
    plans a bucket-aligned sort-merge join with ZERO shuffle exchanges
    (the layout's whole point; the entry's plan pin holds the one
    aggregate exchange, and the oracle certifies the RESULTS are exactly
    the plain join's). Pay the exchange once at layout time, never per
    query — the recurring big-big join economics at 100 TB.
    """
    from archive_to_parquet_spark.plans.bucketing import (
        _input_fingerprint,
        bucketed_join,
        ensure_bucketed_table,
    )

    sf_tag = "".join(c for c in sf_dir if c.isalnum())[-6:]
    lt, rt = f"b_orders_{sf_tag}", f"b_lineitem_{sf_tag}"
    # external tables at an explicit /tmp staging location: the entry
    # must work in sessions we don't own, whose warehouse dir (cwd by
    # default) may not be writable. Staged once per input fingerprint;
    # later executions (fresh sessions included) re-register the files.
    stage = _stage_dir("bucketed", sf_dir)
    fp = [
        "relbk-v1",
        _input_fingerprint(
            f"{sf_dir}/orders.parquet", f"{sf_dir}/lineitem.parquet"
        ),
    ]
    ensure_bucketed_table(
        spark, lt, os.path.join(stage, lt), "o_orderkey", 8,
        lambda: _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        fp,
    )
    ensure_bucketed_table(
        spark, rt, os.path.join(stage, rt), "o_orderkey", 8,
        lambda: _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        fp,
    )
    joined = bucketed_join(spark, lt, rt, "o_orderkey")
    return joined.groupBy("o_custkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


REL_BUCKETED_SQL = """
SELECT o.o_custkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_custkey
"""


# ---------------------------------------------------------------------------
# Theta sketch set-operation cardinalities (union / intersection /
# difference estimates from k-sized state)
# ---------------------------------------------------------------------------

_THETA_K = 256
_THETA_HMAX = 1 << 40  # hv range: 40-bit md5 prefix keeps cnt*HMAX in int64


def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set-operation cardinalities between two document
    snapshots (A = doc_id %% 3 != 0, B = doc_id %% 2 = 0): estimate
    |A∪B|, |A∩B| and |A\\B| from two k=256 bottom-k sketches — the
    "how many NEW documents does this crawl add" question answered
    from k-sized state instead of a corpus-wide join. Values are
    40-bit md5 prefixes of the text (identical "random" permutation in
    both engines; 40 bits keep every product in exact int64 — cnt ×
    2^40 ≤ 2^49). θ_union = min(θ_A, θ_B); retained = sketch members
    below θ_union; each estimate = retained_count · 2^40 div θ —
    integer division, no float anywhere. Certified in-query against
    the exact hv-set counts with the standard ±3·|A∪B|/√k theta-sketch
    set-op bound (Dasgupta et al., the DataSketches theta error
    model), which holds at every SF.

    Scale: per-side sketches are ORDER BY hv LIMIT k →
    TakeOrderedAndProject (per-partition bottom-k partials merged at
    the driver = the sketch merge; k-sized state, no global sort); the
    deduped side table is localCheckpoint'ed ONCE and the k-row
    sketches recompute from it per consumer (deliberately NOT
    checkpointed themselves — see bottom_k; nesting a lazy checkpoint
    on a pending parent checkpoint is the construct the r6 suite-stall
    audit removed). The groupBy(hv) dedup and the exact certificate
    are the only full-width shuffles — dropped at 100 TB, kept here to
    prove the error bound on the same data."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hv = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 10), 16, 10
    ).cast("long")
    sets = (
        docs.select(
            hv.alias("hv"),
            (F.col("doc_id") % 3 != 0).cast("int").alias("in_a"),
            (F.col("doc_id") % 2 == 0).cast("int").alias("in_b"),
        )
        .groupBy("hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .filter((F.col("in_a") == 1) | (F.col("in_b") == 1))
        .localCheckpoint(eager=False)  # feeds ak, bk, and the certificate
    )

    def bottom_k(side: str) -> DataFrame:
        # Deliberately NOT checkpointed: a lazy checkpoint here would
        # nest on top of `sets`' still-unmaterialized lazy checkpoint
        # (child checkpoint RDD whose lineage contains a pending parent
        # checkpoint), the construct audited after the r6 one-off
        # suite stall in test_theta_setops_within_bound.  Recomputing
        # this k-row TakeOrderedAndProject from the materialized `sets`
        # for its two consumers costs ~nothing; flattening removes the
        # parent-before-child materialization-ordering question under
        # AQE entirely.
        return (
            sets.filter(F.col(side) == 1)
            .orderBy("hv")
            .limit(_THETA_K)
            .select("hv")
        )

    ak, bk = bottom_k("in_a"), bottom_k("in_b")

    def theta_of(sk: DataFrame) -> DataFrame:
        return sk.agg(
            F.when(F.count("*") >= _THETA_K, F.max("hv"))
            .otherwise(F.lit(_THETA_HMAX))
            .alias("theta")
        )

    theta_u = (
        theta_of(ak)
        .crossJoin(theta_of(bk).withColumnRenamed("theta", "tb"))
        .select(F.least("theta", "tb").alias("theta"))
    )
    members = (
        ak.select("hv", F.lit(1).alias("a"), F.lit(0).alias("b"))
        .unionByName(bk.select("hv", F.lit(0).alias("a"), F.lit(1).alias("b")))
        .crossJoin(F.broadcast(theta_u))
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("hv")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
    )
    est = members.agg(
        F.count("*").alias("c_u"),
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), F.lit(0))
        .cast("long")
        .alias("c_i"),
        F.coalesce(F.sum(F.col("in_a") * (1 - F.col("in_b"))), F.lit(0))
        .cast("long")
        .alias("c_d"),
    )
    exact = sets.agg(
        F.count("*").alias("n_u"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_i"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long").alias("n_d"),
    )
    out = est.crossJoin(exact).crossJoin(theta_u)
    for op in ("u", "i", "d"):
        out = out.withColumn(
            f"est_{op}", F.expr(f"c_{op} * {_THETA_HMAX}L div theta")
        )
    return out.select(
        F.lit(_THETA_K).alias("k"),
        "theta",
        "est_u",
        "n_u",
        "est_i",
        "n_i",
        "est_d",
        "n_d",
        F.expr("3 * n_u div 16").alias("bound_abs"),
        (
            (F.abs(F.col("est_u") - F.col("n_u")) <= F.expr("3 * n_u div 16"))
            & (F.abs(F.col("est_i") - F.col("n_i")) <= F.expr("3 * n_u div 16"))
            & (F.abs(F.col("est_d") - F.col("n_d")) <= F.expr("3 * n_u div 16"))
        )
        .cast("int")
        .alias("within_bound"),
    )


SKETCH_THETA_SQL = f"""
WITH sides AS (
  SELECT ('0x' || substr(md5(text), 1, 10))::BIGINT AS hv,
         CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS in_a,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_b
  FROM documents WHERE text IS NOT NULL
), sets AS (
  SELECT hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM sides GROUP BY hv
  HAVING MAX(in_a) = 1 OR MAX(in_b) = 1
), ak AS (SELECT hv FROM sets WHERE in_a = 1 ORDER BY hv LIMIT {_THETA_K}),
bk AS (SELECT hv FROM sets WHERE in_b = 1 ORDER BY hv LIMIT {_THETA_K}),
ta AS (SELECT CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(hv)
              ELSE {_THETA_HMAX} END AS theta FROM ak),
tb AS (SELECT CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(hv)
              ELSE {_THETA_HMAX} END AS theta FROM bk),
tu AS (SELECT LEAST(ta.theta, tb.theta) AS theta FROM ta, tb),
ret AS (
  SELECT hv, MAX(a) AS in_a, MAX(b) AS in_b FROM (
    SELECT hv, 1 AS a, 0 AS b FROM ak
    UNION ALL SELECT hv, 0, 1 FROM bk)
  WHERE hv < (SELECT theta FROM tu) GROUP BY hv
), est AS (
  SELECT COUNT(*) AS c_u,
         COALESCE(SUM(in_a * in_b), 0) AS c_i,
         COALESCE(SUM(in_a * (1 - in_b)), 0) AS c_d
  FROM ret
), ex AS (
  SELECT COUNT(*) AS n_u,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_i,
         CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS n_d
  FROM sets
)
SELECT {_THETA_K} AS k,
       tu.theta AS theta,
       CAST(c_u * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_u,
       n_u,
       CAST(c_i * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_i,
       n_i,
       CAST(c_d * {_THETA_HMAX} // tu.theta AS BIGINT) AS est_d,
       n_d,
       CAST(3 * n_u // 16 AS BIGINT) AS bound_abs,
       CASE WHEN abs(c_u * {_THETA_HMAX} // tu.theta - n_u) <= 3 * n_u // 16
             AND abs(c_i * {_THETA_HMAX} // tu.theta - n_i) <= 3 * n_u // 16
             AND abs(c_d * {_THETA_HMAX} // tu.theta - n_d) <= 3 * n_u // 16
            THEN 1 ELSE 0 END AS within_bound
FROM est, ex, tu
"""


# ---------------------------------------------------------------------------
# KMV (bottom-k) overlap sketch: snapshot Jaccard without a full join
# ---------------------------------------------------------------------------

_KMV_K = 128
# Certificate bound: 3σ with σ ≈ ½/√k for the KMV Jaccard estimator
# (Beyer et al., SIGMOD 2007 give Var ≤ J(1-J)/k ≤ 1/(4k)); for k=128
# that is 3/(2·√128) ≈ 0.132583 → 132583 ppm.
_KMV_BOUND_PPM = 132583


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimate between two document snapshots via KMV
    (k-minimum-values / bottom-k) sketches, certified against the exact
    Jaccard. Snapshot A = docs with ``doc_id % 5 != 4``, snapshot B =
    ``doc_id % 5 != 0`` (a deterministic 60% content overlap — the
    "how much of last month's crawl is in this month's" question).
    Values are 60-bit md5 hashes of the text, so both engines draw the
    identical "random" permutation. Estimator: among the bottom-k of
    A∪B, the fraction also present in BOTH per-side bottom-k sketches
    (any union-sketch member belonging to a side is necessarily in
    that side's bottom-k, so sketch membership is exact). All derived
    ratios in integer ppm (``div``) — no float anywhere.

    Returns one row: (k_eff, n_a, n_b, n_union, n_both,
    jaccard_est_ppm, jaccard_exact_ppm, abs_err_ppm, within_bound).

    Scale: the sketch path is ``ORDER BY hv LIMIT k`` per side —
    Spark plans TakeOrderedAndProject: per-partition bottom-k partials
    merged at the driver, which IS the KMV merge (k-sized state per
    partition, no global sort). Each k-row sketch is then
    ``localCheckpoint``-materialized (k rows — materializing the
    sketch is the point of a sketch) so the union/membership algebra
    runs over broadcast k-row tables instead of re-deriving the
    corpus scan per consumer. The map-side-combined ``groupBy(hv)``
    dedup feeding each sketch and the exact n_a/n_b/n_both
    certificate are the only full-width shuffles — at 100 TB you keep
    the sketch path and drop the certificate; it exists here to prove
    the estimator's error bound on the same data.
    """
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hv = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    sides = docs.select(
        hv.alias("hv"),
        (F.col("doc_id") % 5 != 4).cast("int").alias("in_a"),
        (F.col("doc_id") % 5 != 0).cast("int").alias("in_b"),
    )
    # distinct VALUES with side membership (KMV is over sets)
    sets = sides.groupBy("hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    ak = (
        sets.filter(F.col("in_a") == 1)
        .orderBy("hv")
        .limit(_KMV_K)
        .select("hv")
        .localCheckpoint(eager=False)
    )
    bk = (
        sets.filter(F.col("in_b") == 1)
        .orderBy("hv")
        .limit(_KMV_K)
        .select("hv")
        .localCheckpoint(eager=False)
    )
    uk = ak.union(bk).distinct().orderBy("hv").limit(_KMV_K)
    sketch = (
        uk.join(F.broadcast(ak.withColumn("a1", F.lit(1))), "hv", "left")
        .join(F.broadcast(bk.withColumn("b1", F.lit(1))), "hv", "left")
        .agg(
            F.count("*").alias("k_eff"),
            F.sum(
                ((F.col("a1") == 1) & (F.col("b1") == 1)).cast("long")
            ).alias("c_both"),
        )
    )
    exact = sets.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.count("*").alias("n_union"),
    )
    return (
        sketch.crossJoin(exact)
        .withColumn("jaccard_est_ppm", F.expr("c_both * 1000000 div k_eff"))
        .withColumn(
            "jaccard_exact_ppm", F.expr("n_both * 1000000 div n_union")
        )
        .withColumn(
            "abs_err_ppm",
            F.abs(F.col("jaccard_est_ppm") - F.col("jaccard_exact_ppm")),
        )
        .select(
            "k_eff",
            "n_a",
            "n_b",
            "n_union",
            "n_both",
            "jaccard_est_ppm",
            "jaccard_exact_ppm",
            "abs_err_ppm",
            (F.col("abs_err_ppm") <= _KMV_BOUND_PPM)
            .cast("int")
            .alias("within_bound"),
        )
    )


SKETCH_KMV_SQL = f"""
WITH sides AS (
  SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS hv,
         CASE WHEN doc_id % 5 <> 4 THEN 1 ELSE 0 END AS in_a,
         CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS in_b
  FROM documents WHERE text IS NOT NULL
), sets AS (
  SELECT hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM sides GROUP BY hv
), ak AS (SELECT hv FROM sets WHERE in_a = 1 ORDER BY hv LIMIT {_KMV_K}),
bk AS (SELECT hv FROM sets WHERE in_b = 1 ORDER BY hv LIMIT {_KMV_K}),
uk AS (
  SELECT DISTINCT hv
  FROM (SELECT hv FROM ak UNION ALL SELECT hv FROM bk)
  ORDER BY hv LIMIT {_KMV_K}
), cb AS (
  SELECT COUNT(*) AS c_both FROM uk JOIN ak USING (hv) JOIN bk USING (hv)
), ke AS (SELECT COUNT(*) AS k_eff FROM uk),
ex AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
         CAST(SUM(in_b) AS BIGINT) AS n_b,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
         COUNT(*) AS n_union
  FROM sets
)
SELECT k_eff, n_a, n_b, n_union, n_both,
       c_both * 1000000 // k_eff AS jaccard_est_ppm,
       n_both * 1000000 // n_union AS jaccard_exact_ppm,
       abs(c_both * 1000000 // k_eff - n_both * 1000000 // n_union)
         AS abs_err_ppm,
       CAST(CASE WHEN abs(c_both * 1000000 // k_eff
                          - n_both * 1000000 // n_union)
                      <= {_KMV_BOUND_PPM} THEN 1 ELSE 0 END AS INT)
         AS within_bound
FROM cb, ke, ex
"""


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch: integer log buckets, bracket certificate
# ---------------------------------------------------------------------------

_HDR_M = 5  # mantissa sub-bits → relative bucket width ≤ 2^-5 = 3.125%
_HDR_QS = (500000, 900000, 990000)  # p50 / p90 / p99 in ppm


def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation via HDR-histogram-style integer
    log bucketing (exponent + top ``_HDR_M`` mantissa bits of the
    exact order-price cents) — the fixed-size, merge-by-addition
    alternative to exact sorting for p50/p90/p99 at 100 TB.  Bucketing
    is PURE INTEGER (bit-length + shifts), so every engine bins every
    value identically — no log()/float boundary drift, unlike
    DDSketch's γ-log buckets.  Instead of comparing against an exact
    quantile (which would need a global sort), the entry emits a
    BRACKET CERTIFICATE per quantile: the true rank-``target`` value
    provably lies in [est_lo, est_hi] iff ``count(cents < est_lo) <
    target <= count(cents <= est_hi)`` — two counting aggregates.
    Relative bucket width is ≤ 2^-M by construction.

    Returns one row per quantile: (q_ppm, n, target_rank, est_lo,
    est_hi, n_lt_lo, n_le_hi, bracket_ok).

    Scale: one scan → groupBy over at most ``64·2^M`` buckets
    (map-side combinable, k-sized shuffle), materialized once
    (``localCheckpoint`` of ≤2k rows — the sketch itself); total
    count, cumulative ranks, and quantile picks all derive from that
    bucket table, never from a re-scan.  The cumulative-rank window
    is deliberately UNPARTITIONED (the only one in the catalog,
    pinned gw=1): it folds the ≤2k-row bucket table, never data-sized
    input — a single-partition pass over the sketch IS the design.
    The certificate re-scans once against the 3-row broadcast
    estimate.  Sketches from different partitions/days merge by
    adding bucket counts.
    """
    from archive_to_parquet_spark.functions.exactnum import cents_col

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(cents_col("o_totalprice").alias("cents")).filter(
        F.col("cents") > 0
    )
    b = base.select(
        "cents",
        F.greatest(
            F.length(F.bin("cents")) - F.lit(1 + _HDR_M), F.lit(0)
        ).alias("s"),
    )
    buckets = (
        b.select("s", F.expr("shiftright(cents, s)").alias("sub"))
        .groupBy("s", "sub")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    ranges = buckets.select(
        "cnt",
        F.expr("shiftleft(sub, s)").alias("lo"),
        (F.expr("shiftleft(sub + 1, s)") - 1).alias("hi"),
    )
    from pyspark.sql import Window

    cum_w = Window.orderBy("lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ranges.withColumn("cum", F.sum("cnt").over(cum_w))
    qdf = spark.createDataFrame([(q,) for q in _HDR_QS], "q_ppm long")
    targets = (
        # total count comes from the bucket table — the raw data is
        # scanned once for the sketch and once for the certificate
        qdf.crossJoin(
            ranges.agg(F.sum("cnt").cast("long").alias("n"))
        )
        .withColumn(
            "target_rank", F.expr("(q_ppm * n + 999999) div 1000000")
        )
    )
    # smallest bucket whose cumulative count reaches the target rank;
    # buckets are disjoint ordered ranges, so min(lo) and min(hi) both
    # come from that same bucket
    est = (
        targets.join(cum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q_ppm", "n", "target_rank")
        .agg(F.min("lo").alias("est_lo"), F.min("hi").alias("est_hi"))
    )
    cert = (
        base.crossJoin(F.broadcast(est))
        .groupBy("q_ppm", "n", "target_rank", "est_lo", "est_hi")
        .agg(
            F.sum((F.col("cents") < F.col("est_lo")).cast("long")).alias(
                "n_lt_lo"
            ),
            F.sum((F.col("cents") <= F.col("est_hi")).cast("long")).alias(
                "n_le_hi"
            ),
        )
    )
    return cert.select(
        "q_ppm",
        "n",
        "target_rank",
        "est_lo",
        "est_hi",
        "n_lt_lo",
        "n_le_hi",
        (
            (F.col("n_le_hi") >= F.col("target_rank"))
            & (F.col("n_lt_lo") < F.col("target_rank"))
        )
        .cast("int")
        .alias("bracket_ok"),
    )


SKETCH_HDR_SQL = f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
), s1 AS (
  SELECT cents,
         greatest(length(bin(cents)) - {1 + _HDR_M}, 0) AS s
  FROM base
), buckets AS (
  SELECT s, cents >> s AS sub, COUNT(*) AS cnt FROM s1 GROUP BY 1, 2
), ranges AS (
  SELECT cnt, (sub << s) AS lo, ((sub + 1) << s) - 1 AS hi FROM buckets
), cum AS (
  SELECT *, SUM(cnt) OVER (ORDER BY lo ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
  FROM ranges
), q AS (
  SELECT CAST(v AS BIGINT) AS q_ppm
  FROM (VALUES {", ".join(f"({q})" for q in _HDR_QS)}) t(v)
), n1 AS (SELECT COUNT(*) AS n FROM base),
t AS (
  SELECT q_ppm, n, (q_ppm * n + 999999) // 1000000 AS target_rank
  FROM q, n1
), est AS (
  SELECT t.q_ppm, t.n, t.target_rank,
         MIN(c.lo) AS est_lo, MIN(c.hi) AS est_hi
  FROM t JOIN cum c ON c.cum >= t.target_rank
  GROUP BY 1, 2, 3
), cert AS (
  SELECT e.q_ppm, e.n, e.target_rank, e.est_lo, e.est_hi,
         CAST(SUM(CASE WHEN b.cents < e.est_lo THEN 1 ELSE 0 END)
              AS BIGINT) AS n_lt_lo,
         CAST(SUM(CASE WHEN b.cents <= e.est_hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_le_hi
  FROM base b CROSS JOIN est e
  GROUP BY 1, 2, 3, 4, 5
)
SELECT q_ppm, n, target_rank, est_lo, est_hi, n_lt_lo, n_le_hi,
       CAST(CASE WHEN n_le_hi >= target_rank AND n_lt_lo < target_rank
                 THEN 1 ELSE 0 END AS INT) AS bracket_ok
FROM cert
"""


# ---------------------------------------------------------------------------
# A/B experiment readout: Welch's t-test from exact integer moments
# ---------------------------------------------------------------------------

def eval_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — Welch's unequal-variance t-test on
    purchase value between two arms (arm = user_id % 2), the decision
    query every experimentation platform runs over its event log.

    Exactness path: per-arm moments are computed in integer
    milli-units (n, Σm as int64; Σm² accumulated as decimal(38,0) in
    Spark / HUGEINT in DuckDB, so the second moment stays exact to
    10^38 — no silent int64 wrap at any realistic arm size), so the
    shuffled aggregation is EXACT in any engine; mean, variance, t
    and the Welch–Satterthwaite df are
    then literal double expressions over those identical integers —
    bit-identical across engines because IEEE-754 ops are correctly
    rounded and the expression tree is fixed. No float ever enters a
    multi-row aggregation.

    Scale shape: one scan with the event_type filter pushed to the
    parquet scan, one map-side-combinable 2-group aggregation, then
    scalar arithmetic on a 2-row frame — at 100 TB this is a single
    reduce of six integers per arm. The integer-moment trick is the
    same one the warehouse uses for mergeable variance (Chan et al.
    parallel-variance, reduced here to raw moments)."""
    events = _read_events(spark, sf_dir)
    mv = F.round(F.col("value") * 1000).cast("bigint")
    per_arm = (
        events.filter(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 2).alias("arm"), mv.alias("mv"))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.sum("mv").alias("s1"),
            F.sum(
                F.col("mv").cast("decimal(19,0)") * F.col("mv")
            ).alias("s2"),
        )
    )

    def side(arm: int, col: str) -> F.Column:
        return F.sum(F.when(F.col("arm") == arm, F.col(col)))

    wide = per_arm.agg(
        side(0, "n").alias("n_a"),
        side(0, "s1").alias("s1_a"),
        side(0, "s2").alias("s2_a"),
        side(1, "n").alias("n_b"),
        side(1, "s1").alias("s1_b"),
        side(1, "s2").alias("s2_b"),
    )
    # doubles from exact ints; /1000 and /1e6 undo the milli-scaling
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    s1a, s2a = F.col("s1_a").cast("double"), F.col("s2_a").cast("double")
    s1b, s2b = F.col("s1_b").cast("double"), F.col("s2_b").cast("double")
    mean_a = s1a / na / 1000.0
    mean_b = s1b / nb / 1000.0
    var_a = (s2a - s1a * s1a / na) / (na - 1.0) / 1.0e6
    var_b = (s2b - s1b * s1b / nb) / (nb - 1.0) / 1.0e6
    sea = var_a / na
    seb = var_b / nb
    t = (mean_a - mean_b) / F.sqrt(sea + seb)
    df_w = (sea + seb) * (sea + seb) / (
        sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(var_a, 4).alias("var_a"),
        F.round(var_b, 4).alias("var_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df_w, 2).alias("df_welch"),
        F.when(F.abs(t) > 1.96, 1).otherwise(0).alias("significant"),
    )


EVAL_AB_WELCH_SQL = """
WITH arms AS (
  SELECT user_id % 2 AS arm,
         CAST(round(value * 1000) AS BIGINT) AS mv
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT arm, COUNT(*) AS n, SUM(mv) AS s1,
         SUM(CAST(mv AS HUGEINT) * mv) AS s2
  FROM arms GROUP BY arm
),
wide AS (
  SELECT SUM(CASE WHEN arm = 0 THEN n END) AS n_a,
         CAST(SUM(CASE WHEN arm = 0 THEN s1 END) AS DOUBLE) AS s1_a,
         CAST(SUM(CASE WHEN arm = 0 THEN s2 END) AS DOUBLE) AS s2_a,
         SUM(CASE WHEN arm = 1 THEN n END) AS n_b,
         CAST(SUM(CASE WHEN arm = 1 THEN s1 END) AS DOUBLE) AS s1_b,
         CAST(SUM(CASE WHEN arm = 1 THEN s2 END) AS DOUBLE) AS s2_b
  FROM m
),
calc AS (
  SELECT n_a, n_b,
         s1_a / n_a / 1000.0 AS mean_a,
         s1_b / n_b / 1000.0 AS mean_b,
         (s2_a - s1_a * s1_a / n_a) / (n_a - 1.0) / 1.0e6 AS var_a,
         (s2_b - s1_b * s1_b / n_b) / (n_b - 1.0) / 1.0e6 AS var_b
  FROM (SELECT CAST(n_a AS DOUBLE) AS n_a, s1_a, s2_a,
               CAST(n_b AS DOUBLE) AS n_b, s1_b, s2_b FROM wide)
),
stat AS (
  SELECT *,
         (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t,
         (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
           / ((var_a / n_a) * (var_a / n_a) / (n_a - 1.0)
              + (var_b / n_b) * (var_b / n_b) / (n_b - 1.0)) AS df_w
  FROM calc
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(mean_a, 6) AS mean_a,
       round(mean_b, 6) AS mean_b,
       round(var_a, 4) AS var_a,
       round(var_b, 4) AS var_b,
       round(t, 4) AS t_stat,
       round(df_w, 2) AS df_welch,
       CASE WHEN abs(t) > 1.96 THEN 1 ELSE 0 END AS significant
FROM stat
"""


ENTRIES = {
    "rel_pricing_summary": (rel_pricing_summary, REL_PRICING_SQL),
    "rel_revenue_by_nation": (rel_revenue_by_nation, REL_REVENUE_SQL),
    "rel_top_orders": (rel_top_orders, REL_TOP_ORDERS_SQL),
    "rel_window_top3_per_cust": (rel_window_top3_per_cust, REL_WINDOW_SQL),
    "rel_customers_without_orders": (rel_customers_without_orders, REL_ANTI_SQL),
    "rel_order_priority_counts": (rel_order_priority_counts, REL_SEMI_SQL),
    "rel_events_hourly": (rel_events_hourly, REL_EVENTS_HOURLY_SQL),
    "rel_sessionize": (rel_sessionize, REL_SESSIONIZE_SQL),
    "rel_funnel": (rel_funnel, REL_FUNNEL_SQL),
    "rel_cohort_retention": (rel_cohort_retention, REL_COHORT_SQL),
    "rel_hourly_anomalies": (rel_hourly_anomalies, REL_ANOMALY_SQL),
    "rel_fuzzy_match": (rel_fuzzy_match, REL_FUZZY_SQL),
    "rel_supplier_balance_by_nation": (
        rel_supplier_balance_by_nation,
        REL_SUPPLIER_SQL,
    ),
    "rel_part_type_stats": (rel_part_type_stats, REL_PART_SQL),
    "rel_rollup_sales": (rel_rollup_sales, REL_ROLLUP_SQL),
    "rel_cube_orders": (rel_cube_orders, REL_CUBE_SQL),
    "rel_grouping_sets": (rel_grouping_sets, REL_GROUPING_SETS_SQL),
    "rel_pivot_status": (rel_pivot_status, REL_PIVOT_SQL),
    "rel_set_ops": (rel_set_ops, REL_SET_OPS_SQL),
    "rel_asof_click_before_purchase": (rel_asof_click_before_purchase, REL_ASOF_SQL),
    "rel_range_join_price_bands": (rel_range_join_price_bands, REL_RANGE_JOIN_SQL),
    "rel_json_props": (rel_json_props, REL_JSON_SQL),
    "rel_percentiles": (rel_percentiles, REL_PERCENTILES_SQL),
    "rel_running_totals": (rel_running_totals, REL_RUNNING_SQL),
    "rel_orders_above_customer_avg": (
        rel_orders_above_customer_avg,
        REL_CORRELATED_SQL,
    ),
    "rel_ship_delay_by_year": (rel_ship_delay_by_year, REL_SHIP_DELAY_SQL),
    "rel_string_funcs": (rel_string_funcs, REL_STRING_FUNCS_SQL),
    "rel_math_funcs": (rel_math_funcs, REL_MATH_FUNCS_SQL),
    "rel_intersect_having": (rel_intersect_having, REL_INTERSECT_SQL),
    "rel_array_funcs": (rel_array_funcs, REL_ARRAY_FUNCS_SQL),
    "rel_posexplode_words": (rel_posexplode_words, REL_POSEXPLODE_SQL),
    "sketch_accuracy": (sketch_accuracy, SKETCH_ACCURACY_SQL),
    "rel_recursive_cte": (rel_recursive_cte, REL_RECURSIVE_SQL),
    "rel_rank_functions": (rel_rank_functions, REL_RANK_FUNCS_SQL),
    "rel_datetime_funcs": (rel_datetime_funcs, REL_DATETIME_FUNCS_SQL),
    "sketch_mergeable_hll": (sketch_mergeable_hll, SKETCH_MERGEABLE_HLL_SQL),
    "rel_trailing_window_avg": (rel_trailing_window_avg, REL_TRAILING_WINDOW_SQL),
    "rel_scd2_intervals": (rel_scd2_intervals, REL_SCD2_SQL),
    "sketch_heavy_hitters": (sketch_heavy_hitters, SKETCH_HEAVY_HITTERS_SQL),
    "tpch_q01_pricing_summary": (tpch_q01_pricing_summary, TPCH_Q01_SQL),
    "tpch_q02_min_cost_supplier": (tpch_q02_min_cost_supplier, TPCH_Q02_SQL),
    "tpch_q03_shipping_priority": (tpch_q03_shipping_priority, TPCH_Q03_SQL),
    "tpch_q04_priority_checking": (tpch_q04_priority_checking, TPCH_Q04_SQL),
    "tpch_q05_local_supplier_volume": (tpch_q05_local_supplier_volume, TPCH_Q05_SQL),
    "tpch_q09_product_profit": (tpch_q09_product_profit, TPCH_Q09_SQL),
    "tpch_q12_priority_split": (tpch_q12_priority_split, TPCH_Q12_SQL),
    "tpch_q06_forecast_revenue": (tpch_q06_forecast_revenue, TPCH_Q06_SQL),
    "tpch_q07_volume_shipping": (tpch_q07_volume_shipping, TPCH_Q07_SQL),
    "tpch_q08_market_share": (tpch_q08_market_share, TPCH_Q08_SQL),
    "tpch_q10_returned_items": (tpch_q10_returned_items, TPCH_Q10_SQL),
    "tpch_q11_important_balances": (tpch_q11_important_balances, TPCH_Q11_SQL),
    "tpch_q13_customer_distribution": (tpch_q13_customer_distribution, TPCH_Q13_SQL),
    "tpch_q14_promo_revenue": (tpch_q14_promo_revenue, TPCH_Q14_SQL),
    "tpch_q15_top_supplier": (tpch_q15_top_supplier, TPCH_Q15_SQL),
    "tpch_q16_brand_supplier_counts": (tpch_q16_brand_supplier_counts, TPCH_Q16_SQL),
    "tpch_q17_small_quantity": (tpch_q17_small_quantity, TPCH_Q17_SQL),
    "tpch_q18_large_orders": (tpch_q18_large_orders, TPCH_Q18_SQL),
    "tpch_q19_disjunctive": (tpch_q19_disjunctive, TPCH_Q19_SQL),
    "tpch_q20_supplier_semi_chain": (tpch_q20_supplier_semi_chain, TPCH_Q20_SQL),
    "tpch_q21_multi_exists": (tpch_q21_multi_exists, TPCH_Q21_SQL),
    "tpch_q22_idle_customers": (tpch_q22_idle_customers, TPCH_Q22_SQL),
    "rel_decayed_sum": (rel_decayed_sum, REL_DECAYED_SUM_SQL),
    "rel_gapfill_hourly": (rel_gapfill_hourly, REL_GAPFILL_SQL),
    "rel_session_window_native": (rel_session_window_native, REL_SESSION_WINDOW_SQL),
    "rel_unpivot_part_metrics": (rel_unpivot_part_metrics, REL_UNPIVOT_SQL),
    "sketch_countmin": (sketch_countmin, SKETCH_COUNTMIN_SQL),
    "rel_lateral_topk": (rel_lateral_topk, REL_LATERAL_SQL),
    "rel_salted_hot_join": (rel_salted_hot_join, REL_SALTED_SQL),
    "rel_window_funcs_panel": (rel_window_funcs_panel, REL_WINDOW_PANEL_SQL),
    "rel_variant_json": (rel_variant_json, REL_VARIANT_SQL),
    "rel_sql_udf_priceband": (rel_sql_udf_priceband, REL_SQL_UDF_SQL),
    "rel_skew_isolated_join": (rel_skew_isolated_join, REL_SKEW_ISOLATED_SQL),
    "rel_bucketed_join": (rel_bucketed_join, REL_BUCKETED_SQL),
    "sketch_kmv_overlap": (sketch_kmv_overlap, SKETCH_KMV_SQL),
    "sketch_theta_setops": (sketch_theta_setops, SKETCH_THETA_SQL),
    "sketch_hdr_quantiles": (sketch_hdr_quantiles, SKETCH_HDR_SQL),
    "eval_ab_welch_ttest": (eval_ab_welch_ttest, EVAL_AB_WELCH_SQL),
}
