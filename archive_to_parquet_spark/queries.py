"""Query catalog: the engine's declared operator surface.

Every entry pairs an idiomatic-Spark DataFrame query with an ANSI-SQL
oracle that DuckDB runs over the same parquet tables; the oracle gate
(``archive_to_parquet_spark.oracle``, run per entry by
``tests/test_oracle_gate.py``) compares row counts, schemas, and
order-insensitive value hashes. Naming rule: every computed column is
aliased identically on both sides.

Groups:

- ``q1..q6``    — the reference dataflow semantics (SURVEY.md §2.12)
  re-expressed over the ``documents`` table (text ≙ content bytes):
  projection+sha256, text/binary include filter, exclusive-max size
  filter, dedup-by-hash set semantics, ascii-strings extraction,
  multi-source union + counters.
- ``rel_*``     — the relational surface (joins, aggs, windows, anti
  join, top-k, sessionization, time bucketing) the reference lacks but
  Spark provides natively (SURVEY.md §2.8).
- ``dedup_*``, ``text_*``, ``ann_*`` — training-data pipeline operators
  (exact + near dedup, quality/langid/tokens/fingerprint, similarity
  search). The approximate family is made oracle-checkable by
  construction: hash material is engine-independent (md5, literal
  md5-derived hyperplanes, deterministic sampled IVF centroids) and
  candidates are confirmed with exact math, so DuckDB reproduces each
  result bit-for-bit — candidate generation stays bucketed/LSH on the
  Spark side, and the oracle proves recall, not just shape.

Floats are rounded on BOTH sides before comparison (sums to 2dp, ratios
and cosines to 6dp) because Spark and DuckDB may accumulate doubles in
different orders.
"""

from __future__ import annotations

from collections.abc import Callable

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
from archive_to_parquet_spark.functions.text import (
    STOPWORDS,
    stopword_pattern,
    token_count_col,
)
from archive_to_parquet_spark.operators.dedup import (
    embedding_near_duplicates,
    minhash_near_duplicates_confirmed,
    simhash_near_duplicates,
)
from archive_to_parquet_spark.operators.similarity import (
    fixed_hyperplanes,
    ivf_top_k_fixed_centroids,
    lsh_top_k,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# Printable-ASCII run regex — shared verbatim between Spark (Java regex)
# and DuckDB (RE2); the char class subset behaves identically.
ASCII_RUN_10 = "[ -~]{10,}"
ASCII_TEXT_FULL = "^[ -~\\s]*$"

SIZE_MIN, SIZE_MAX = 100, 400  # q3 bounds; max EXCLUSIVE (reference src/lib.rs:55-62)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts_sec as epoch-second long, tolerant of both driver
    testdata layouts.

    Older driver data stores ts as parquet TIMESTAMP(NANOS), which Spark
    only reads with ``nanosAsLong`` (runtime-settable); integer division
    (never float — 1.7e18 doesn't fit a double's mantissa) then produces
    exact epoch seconds. Newer data uses timestamp[us], which loads as
    TIMESTAMP_NTZ; the session tz is pinned UTC so the cast relabels
    without shifting wall-clock values. DuckDB oracle side is layout-
    independent: ``epoch_ns(ts) // 1000000000``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        return ev.withColumn("ts_sec", F.expr("ts div 1000000000"))
    return ev.withColumn(
        "ts_sec", F.unix_seconds(F.col("ts").cast("timestamp"))
    )


# ---------------------------------------------------------------------------
# §2.12 reference-dataflow queries over documents (text ≙ content)
# ---------------------------------------------------------------------------


def q1_projection_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/X1/X3: canonical projection + sha256 (reference src/batch.rs:101-131)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.octet_length("text").cast("long").alias("size"),
        F.sha2("text", 256).alias("hash_hex"),
    )


Q1_SQL = """
SELECT doc_id, source,
       CAST(octet_length(encode(text)) AS BIGINT) AS size,
       sha256(text) AS hash_hex
FROM documents
"""


def q2_include_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/X2 include=text analog: keep printable-ASCII documents
    (reference src/batch.rs:162-180; is_utf8 is trivially true on a
    string column, so the discriminating predicate is ASCII-ness)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike(ASCII_TEXT_FULL)).select(
        "doc_id", "source", "lang"
    )


Q2_SQL = f"""
SELECT doc_id, source, lang
FROM documents
WHERE regexp_matches(text, '{ASCII_TEXT_FULL}')
"""


def q2b_utf8_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/X2 on REAL binary content with genuinely invalid UTF-8.

    q2's oracle table stores text as strings, where UTF-8 validity is
    vacuous — so this twin BUILDS a binary column deterministically:
    even doc_ids get valid bytes (text + a multibyte 'é'), odd ids get
    the same bytes corrupted two ways (id%4==1 → a truncated 2-byte
    sequence, lone 0xC3; id%4==3 → the never-valid byte 0xFF). The F1
    operator (JVM ``is_valid_utf8``) must recover exactly the even ids;
    the oracle states the ground truth the construction implies."""
    from archive_to_parquet_spark.operators.filters import apply_include_filter
    from archive_to_parquet_spark.options import IncludeType

    docs = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 2 == 0, F.encode(F.lit("é"), "UTF-8"))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("C3")))
        .otherwise(F.unhex(F.lit("FF")))
    )
    blobs = docs.select(
        "doc_id", F.concat(F.encode("text", "UTF-8"), suffix).alias("content")
    )
    return apply_include_filter(blobs, IncludeType.TEXT).select("doc_id")


Q2B_SQL = """
SELECT doc_id FROM documents WHERE doc_id % 2 = 0
"""


def q3_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: size in [min, max) — max exclusive (reference src/lib.rs:55-62)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("n_chars") >= SIZE_MIN) & (F.col("n_chars") < SIZE_MAX)
    ).select("doc_id", "n_chars")


Q3_SQL = f"""
SELECT doc_id, n_chars FROM documents
WHERE n_chars >= {SIZE_MIN} AND n_chars < {SIZE_MAX}
"""


def q4_dedup_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 set semantics: hash → multiplicity. Validates the dedup *set*
    without depending on the nondeterministic winner (reference
    src/sink.rs:91-96)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("hash_hex"))
        .agg(F.count("*").alias("n"))
    )


Q4_SQL = """
SELECT sha256(text) AS hash_hex, COUNT(*) AS n
FROM documents GROUP BY 1
"""


def q4b_distinct_hash_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 cardinality check: COUNT(DISTINCT sha256(content)) — the
    dedup set size without depending on nondeterministic winners."""
    return _t(spark, sf_dir, "documents").agg(
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct")
    )


Q4B_SQL = "SELECT COUNT(DISTINCT sha256(text)) AS n_distinct FROM documents"


def q5_extract_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: strings(1)-style printable-ASCII runs, min length 10, joined
    with newline (reference crates/extract-strings/src/ascii.rs:23-130,
    src/batch.rs:115-117)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit(ASCII_RUN_10), F.lit(0)), "\n"
        ).alias("strings"),
    )


Q5_SQL = f"""
SELECT doc_id,
       array_to_string(regexp_extract_all(text, '{ASCII_RUN_10}'), chr(10)) AS strings
FROM documents
"""


def q6_union_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 fan-in: multi-input UNION ALL → per-source counters
    (reference src/converter/mod.rs:37-53, src/channel.rs:28-49)."""
    docs = _t(spark, sf_dir, "documents")
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        evens.unionAll(odds)
        .groupBy("source")
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("total_chars"))
    )


Q6_SQL = """
SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT * FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT * FROM documents WHERE doc_id % 2 = 1
) GROUP BY source
"""


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


def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the corpus — explode → count → top-k
    with deterministic (count desc, gram asc) order."""
    from archive_to_parquet_spark.functions.text import word_ngrams_col

    docs = _t(spark, sf_dir, "documents")
    bigrams = word_ngrams_col("text", 2)
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .filter(F.length("bigram") > 0)
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


TEXT_BIGRAM_SQL = r"""
WITH w AS (
  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), b AS (
  SELECT unnest([array_to_string(words[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(words) - 1, 1))]) AS bigram
  FROM w
)
SELECT bigram, COUNT(*) AS n FROM b WHERE length(bigram) > 0
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
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


# ---------------------------------------------------------------------------
# Training-data pipeline operators
# ---------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic winner: min doc_id per content hash."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("hash_hex"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dupes"))
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS hash_hex, MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
FROM documents GROUP BY 1
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, punctuation/alpha ratios, mean word
    length — all whole-stage-codegen expressions."""
    from archive_to_parquet_spark.functions.text import quality_score_cols

    docs = _t(spark, sf_dir, "documents")
    q = quality_score_cols("text")
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
    )


TEXT_QUALITY_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
       round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
             / greatest(length(text), 1), 6) AS alpha_ratio,
       round(length(text) * 1.0
             / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS mean_word_len
FROM documents
"""


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish regex token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col("text", "whitespace").alias("ws_tokens"),
        token_count_col("text", "bpe").alias("bpe_tokens"),
    )


# TOKEN_REGEX shared with functions/text.py
TEXT_TOKENS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+(?:''[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID; ties break toward the earlier
    language code; 'und' when no stopword matches."""
    from archive_to_parquet_spark.functions.text import language_id_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", language_id_col("text").alias("lang_guess")
    )


def _lang_id_oracle_sql() -> str:
    langs = sorted(STOPWORDS)  # de, en, es, fr, zh
    hits = ",\n         ".join(
        "len(regexp_extract_all(text, '{p}')) AS h_{l}".format(
            p=stopword_pattern(lang).replace("'", "''"), l=lang
        )
        for lang in langs
    )
    # earliest-lang tiebreak: check langs in order, each >= all later ones
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"h_{lang} >= h_{other}" for other in langs[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "\n           ".join(cases)
    greatest = ", ".join(f"h_{lang}" for lang in langs)
    return f"""
WITH h AS (
  SELECT doc_id, lang,
         {hits}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest({greatest}) <= 0 THEN 'und'
           {case_sql}
       END AS lang_guess
FROM h
"""


TEXT_LANG_ID_SQL = _lang_id_oracle_sql()


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text
    (the SQL-checkable twin of the xxhash64 fingerprint in
    functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(normalized.cast("binary")).alias("fp"))


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 quality-filter signals per document (Rae et al. 2021
    §A1.1; Raffel et al. 2020 §2.2): word/line repetition, symbol and
    bullet ratios, required-stopword gate, and the combined
    ``gopher_pass`` verdict. Pure JVM expressions — one scan, no
    shuffle, no Python."""
    from archive_to_parquet_spark.functions.text import gopher_quality_cols

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality_cols("text")
    return docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        F.round(q["mean_word_len"], 6).alias("mean_word_len"),
        F.round(q["frac_alpha_words"], 6).alias("frac_alpha_words"),
        F.round(q["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        q["req_stopwords"].alias("req_stopwords"),
        q["n_lines"].alias("n_lines"),
        F.round(q["frac_dup_lines"], 6).alias("frac_dup_lines"),
        F.round(q["frac_chars_dup_lines"], 6).alias("frac_chars_dup_lines"),
        F.round(q["frac_bullet_lines"], 6).alias("frac_bullet_lines"),
        F.round(q["frac_ellipsis_lines"], 6).alias("frac_ellipsis_lines"),
        F.round(q["frac_lines_end_punct"], 6).alias("frac_lines_end_punct"),
        q["gopher_pass"].cast("int").alias("gopher_pass"),
    )


TEXT_GOPHER_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
  FROM documents
), base AS (
  SELECT doc_id,
         CAST(len(words) AS INT) AS n_words,
         greatest(len(words), 1) AS safe_words,
         coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS word_chars,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_symbols,
         CAST(len(list_intersect(list_transform(words, x -> lower(x)),
              ['the','be','to','of','and','that','have','with'])) AS INT)
           AS req_stopwords
  FROM w
), l AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE trim(line) <> ''
), lagg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(length(line)) AS line_chars,
         sum(CASE WHEN regexp_matches(line, '^\s*[-*•]') THEN 1 ELSE 0 END)
           AS bullet_lines,
         sum(CASE WHEN regexp_matches(line, '(\.\.\.|…)\s*$') THEN 1 ELSE 0 END)
           AS ellipsis_lines,
         sum(CASE WHEN regexp_matches(line, '[.!?"'']\s*$') THEN 1 ELSE 0 END)
           AS endpunct_lines
  FROM l GROUP BY doc_id
), ldup AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_line_occ,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_line_chars
  FROM (SELECT doc_id, line, count(*) AS c FROM l GROUP BY doc_id, line)
  GROUP BY doc_id
), j AS (
  SELECT b.doc_id, b.n_words, b.safe_words, b.word_chars, b.alpha_words,
         b.n_symbols, b.req_stopwords,
         coalesce(g.n_lines, 0) AS n_lines,
         greatest(coalesce(g.n_lines, 0), 1) AS safe_lines,
         greatest(coalesce(g.line_chars, 0), 1) AS safe_line_chars,
         coalesce(g.bullet_lines, 0) AS bullet_lines,
         coalesce(g.ellipsis_lines, 0) AS ellipsis_lines,
         coalesce(g.endpunct_lines, 0) AS endpunct_lines,
         coalesce(d.dup_line_occ, 0) AS dup_line_occ,
         coalesce(d.dup_line_chars, 0) AS dup_line_chars
  FROM base b
  LEFT JOIN lagg g ON b.doc_id = g.doc_id
  LEFT JOIN ldup d ON b.doc_id = d.doc_id
)
SELECT doc_id, n_words,
       round(word_chars * 1.0 / safe_words, 6) AS mean_word_len,
       round(alpha_words * 1.0 / safe_words, 6) AS frac_alpha_words,
       round(n_symbols * 1.0 / safe_words, 6) AS symbol_word_ratio,
       req_stopwords,
       CAST(n_lines AS INT) AS n_lines,
       round(dup_line_occ * 1.0 / safe_lines, 6) AS frac_dup_lines,
       round(dup_line_chars * 1.0 / safe_line_chars, 6) AS frac_chars_dup_lines,
       round(bullet_lines * 1.0 / safe_lines, 6) AS frac_bullet_lines,
       round(ellipsis_lines * 1.0 / safe_lines, 6) AS frac_ellipsis_lines,
       round(endpunct_lines * 1.0 / safe_lines, 6) AS frac_lines_end_punct,
       CAST(n_words BETWEEN 50 AND 100000
            AND word_chars * 1.0 / safe_words BETWEEN 3 AND 10
            AND n_symbols * 1.0 / safe_words < 0.1
            AND bullet_lines * 1.0 / safe_lines < 0.9
            AND ellipsis_lines * 1.0 / safe_lines < 0.3
            AND alpha_words * 1.0 / safe_words > 0.8
            AND req_stopwords >= 2
            AND dup_line_occ * 1.0 / safe_lines < 0.3
            AND dup_line_chars * 1.0 / safe_line_chars < 0.2 AS INT)
         AS gopher_pass
FROM j
"""


def text_topgram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's top-n-gram repetition signal: the fraction of document
    characters covered by occurrences of the most frequent word 2-gram
    (count × gram length / doc chars). Ties break toward the
    lexicographically smallest gram (deterministic).

    Plan: explode 2-gram shingles → two-level hash agg (doc_id, gram)
    then (doc_id) with min_by — both map-side partial, shuffle keyed on
    (doc_id, gram) / doc_id only — then a broadcast-eligible join back
    to doc lengths. No window over unpartitioned data; scales linearly
    in total shingle count."""
    from archive_to_parquet_spark.functions.text import word_ngrams_col
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    # round 11 (guide §2.5): the shingle explode is the entry's only
    # corpus-sized map work; a single-split scan pins it to one core
    # (0.8 s single-task stage at sf0.1). No-op on a wide scan.
    grams = spread_small_scan(docs, "doc_id").select(
        "doc_id", F.explode(word_ngrams_col("text", 2)).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    top = counts.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("gram"), F.col("c")),
            F.struct((-F.col("c")).alias("nc"), F.col("gram").alias("g")),
        ).alias("t")
    )
    return (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("t.gram"), F.lit("")).alias("top_gram"),
            F.coalesce(F.col("t.c"), F.lit(0)).cast("long").alias("top_count"),
            F.round(
                F.coalesce(F.col("t.c") * F.length("t.gram"), F.lit(0)).cast(
                    "double"
                )
                / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("frac_chars_top_2gram"),
        )
    )


TEXT_TOPGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), wo AS (
  SELECT doc_id, unnest(words) AS word, generate_subscripts(words, 1) AS ord
  FROM w WHERE len(words) >= 2
), grams AS (
  SELECT a.doc_id, a.word || ' ' || b.word AS gram
  FROM wo a JOIN wo b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  UNION ALL
  SELECT doc_id, words[1] AS gram FROM w WHERE len(words) = 1
), cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
), top AS (
  SELECT doc_id, gram, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
  FROM cnt
)
SELECT w.doc_id,
       coalesce(t.gram, '') AS top_gram,
       coalesce(t.c, 0) AS top_count,
       round(coalesce(t.c * length(t.gram), 0) * 1.0
             / greatest(w.n_chars, 1), 6) AS frac_chars_top_2gram
FROM w LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON w.doc_id = t.doc_id
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (email / phone / dotted-quad IP) as
    pure regex column expressions. The synthetic corpus contains no PII,
    so the query first augments each document with deterministic
    doc_id-derived PII strings — built identically in the DuckDB oracle
    — making the hash compare exercise real matches and the exact
    redacted output, not just zeros."""
    from archive_to_parquet_spark.functions.text import (
        pii_count_cols,
        redact_pii_col,
    )

    docs = _t(spark, sf_dir, "documents")
    augmented = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 tel 555-"),
        F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 31) % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", augmented.alias("aug"))
    counts = pii_count_cols("aug")
    return aug.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ipv4"].alias("n_ipv4"),
        redact_pii_col("aug").alias("redacted"),
    )


TEXT_PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 10.'
              || (doc_id % 256) || '.0.1 tel 555-'
              || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(aug, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT)
         AS n_phone,
       CAST(len(regexp_extract_all(aug, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INT)
         AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
FROM aug
"""


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) plus a stratified
    per-language sample over documents — both keyed on md5-hex-prefix
    uniforms, so the oracle reproduces every per-row decision exactly
    (operators/sampling.py; the engine-portable twin of df.sample /
    df.sampleBy, which are partitioning-dependent)."""
    from archive_to_parquet_spark.operators.sampling import (
        hash_split_col,
        hex_threshold,
        uniform_hex_col,
    )

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    u_strata = uniform_hex_col("doc_id", "strata")
    threshold = (
        F.when(F.col("lang") == "en", F.lit(hex_threshold(rates["en"])))
        .when(F.col("lang") == "de", F.lit(hex_threshold(rates["de"])))
        .when(F.col("lang") == "fr", F.lit(hex_threshold(rates["fr"])))
        .otherwise(F.lit(hex_threshold(0.0)))
    )
    return docs.select(
        "doc_id",
        "lang",
        hash_split_col("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
        (u_strata < threshold).cast("int").alias("kept_stratified"),
    )


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: global rank of
    md5('shuffle' || doc_id) via two-phase distributed rank
    (operators/sampling.py global_shuffle_rank — range partition +
    per-partition offsets, no single-partition WindowExec). The oracle
    is a plain ORDER BY row_number over the same md5 — two totally
    different rank plans must produce the identical permutation."""
    from archive_to_parquet_spark.operators.sampling import global_shuffle_rank

    docs = _t(spark, sf_dir, "documents")
    return global_shuffle_rank(docs, "doc_id", seed="shuffle").select(
        "doc_id", "shuffle_pos"
    )


CORPUS_SHUFFLE_SQL = """
SELECT doc_id,
       row_number() OVER (
         ORDER BY md5('shuffle' || CAST(doc_id AS VARCHAR)), doc_id
       ) - 1 AS shuffle_pos
FROM documents
"""


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build + per-document coverage: top-16
    tokens by corpus frequency (ties broken by token — deterministic),
    then each document's in-vocab token count and OOV rate via a
    broadcast semi-mark join.

    Scale: token counts are one map-side-combined shuffle on token;
    top-K with small K is a per-partition partial top-K merged on the
    driver (TakeOrderedAndProject — no global sort of the vocabulary);
    the vocab then broadcasts, so per-doc coverage adds NO shuffle on
    the corpus side beyond the per-doc agg."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_remove(F.split(F.lower("text"), r"\s+"), "")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(16)
        .select("tok", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("iv", F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            # integer parts-per-million, not a float rate: the oracle
            # compare hashes pandas values, and any float column risks
            # engine-repr drift (DuckDB HUGEINT sums surface as float64)
            F.expr(
                "((n_tokens - n_in_vocab) * 1000000L) div n_tokens"
            ).alias("oov_ppm"),
        )
    )


VOCAB_COVERAGE_SQL = r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), c AS (
  SELECT tok, count(*) AS n FROM t GROUP BY tok
), v AS (
  SELECT tok FROM c ORDER BY n DESC, tok LIMIT 16
), g AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_in_vocab
  FROM t LEFT JOIN v ON t.tok = v.tok
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_in_vocab,
       CAST((n_tokens - n_in_vocab) * 1000000 // n_tokens AS BIGINT)
         AS oov_ppm
FROM g
"""


SAMPLE_SPLIT_SQL = """
WITH u AS (
  SELECT doc_id, lang,
         substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS u_split,
         substring(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8) AS u_strata
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN u_split < '{t80}' THEN 'train'
            WHEN u_split < '{t90}' THEN 'val'
            ELSE 'test' END AS split,
       CAST(u_strata < CASE lang WHEN 'en' THEN '{ten}'
                                 WHEN 'de' THEN '{tde}'
                                 WHEN 'fr' THEN '{tfr}'
                                 ELSE '{tzero}' END AS INT) AS kept_stratified
FROM u
"""


def _sample_split_oracle_sql() -> str:
    from archive_to_parquet_spark.operators.sampling import hex_threshold

    return SAMPLE_SPLIT_SQL.format(
        t80=hex_threshold(0.8),
        t90=hex_threshold(0.9),
        ten=hex_threshold(0.5),
        tde=hex_threshold(0.25),
        tfr=hex_threshold(0.1),
        tzero=hex_threshold(0.0),
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination over documents: the "benchmark"
    is the deterministic doc_id % 20 == 0 slice; every document is
    flagged with its count of distinct 5-gram overlaps with that slice
    (operators/dedup.py decontaminate — broadcast the benchmark gram
    set, stream the corpus once)."""
    from archive_to_parquet_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, "doc_id", "text", shingle_n=5).orderBy(
        "doc_id"
    )


DECONTAMINATE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        for i in generate_series(1, greatest(len(words) - 4, 1))])
           AS grams
  FROM w WHERE len(words) > 0
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), bg AS (
  SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0
), ov AS (
  SELECT e.doc_id, count(*) AS n_overlap FROM e JOIN bg USING (gram)
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(ov.n_overlap, 0) AS n_overlap_grams,
       CAST(coalesce(ov.n_overlap, 0) >= 1 AS INT) AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
ORDER BY d.doc_id
"""


def crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span repetition over documents: per doc, the
    count and fraction of its distinct 5-gram set occurring in ≥2 docs
    corpus-wide (operators/dedup.py crossdoc_span_stats — inverted
    gram index, no doc×doc pairs)."""
    from archive_to_parquet_spark.operators.dedup import crossdoc_span_stats

    docs = _t(spark, sf_dir, "documents")
    return crossdoc_span_stats(docs, "doc_id", "text", shingle_n=5, min_df=2)


CROSSDOC_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        for i in generate_series(1, greatest(len(words) - 4, 1))])
           AS grams
  FROM w WHERE len(words) > 0
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), dfreq AS (
  SELECT gram, count(*) AS df FROM e GROUP BY gram
), shared AS (
  SELECT e.doc_id, count(*) AS n_shared
  FROM e JOIN dfreq USING (gram) WHERE dfreq.df >= 2
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(len(g.grams), 0) AS INT) AS n_grams,
       coalesce(s.n_shared, 0) AS n_shared_grams,
       round(coalesce(s.n_shared, 0) * 1.0
             / greatest(coalesce(len(g.grams), 0), 1), 6) AS frac_shared_grams
FROM documents d
LEFT JOIN g ON d.doc_id = g.doc_id
LEFT JOIN shared s ON d.doc_id = s.doc_id
"""


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span removal: aligned 6-word chunks,
    first occurrence (min (doc_id, position)) survives, documents
    reassembled from surviving chunks (operators/dedup.py
    dedup_chunk_spans — shuffle on chunk then id, no doc×doc work)."""
    from archive_to_parquet_spark.operators.dedup import dedup_chunk_spans

    docs = _t(spark, sf_dir, "documents")
    return dedup_chunk_spans(docs, "doc_id", "text", chunk_words=6)


DEDUP_SPAN_REMOVAL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS words
  FROM documents
), c AS (
  SELECT doc_id, i AS idx,
         array_to_string(words[(i*6+1):(i*6+6)], ' ') AS chunk
  FROM w, LATERAL unnest(generate_series(0,
         CAST(ceil(len(words) / 6.0) AS INT) - 1)) AS t(i)
), ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM c
), kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
  FROM ranked WHERE rn = 1
  GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(ceil(len(w.words) / 6.0) AS INT) AS n_chunks,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.text_dedup, '') AS text_dedup
FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
"""


def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + domain-level curation rollup: build a
    deterministic URL per document (from source/doc_id/lang), extract
    host / registrable domain / query param with the JVM ``parse_url``
    expression (functions/web.py), drop blocklisted domains, and roll
    up per (domain, host). The oracle re-derives the same components
    with independent regex/string functions in DuckDB — two different
    URL parsers must agree.

    Scale: everything before the groupBy is a per-row expression (no
    shuffle); the rollup shuffles once on (domain, host) with map-side
    partials. A domain blocklist of literals compiles to a hash-set
    probe; see functions/web.py for the broadcast-join form at
    million-entry blocklist scale."""
    from archive_to_parquet_spark.functions.web import (
        domain_blocked,
        registrable_domain,
        url_host,
        url_query_param,
    )

    docs = _t(spark, sf_dir, "documents")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        tld,
        F.lit("/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
    )
    parsed = docs.select(
        F.col("doc_id"),
        F.col("n_chars"),
        url.alias("url"),
        url_host(url).alias("host"),
        url_query_param(url, "lang").alias("url_lang"),
    ).withColumn("domain", registrable_domain(F.col("host")))
    kept = parsed.filter(~domain_blocked(F.col("domain"), ("example.net",)))
    return (
        kept.groupBy("domain", "host")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("url_lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("domain", "host")
    )


WEB_DOMAIN_SQL = r"""
WITH u AS (
  SELECT doc_id, n_chars,
         'https://' || source || '.example.' ||
           ['com','org','net'][CAST(doc_id % 3 AS INT) + 1] ||
           '/docs/' || doc_id || '?lang=' || lang AS url
  FROM documents
), p AS (
  SELECT doc_id, n_chars,
         regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
         regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS url_lang
  FROM u
), d AS (
  SELECT *,
         CASE WHEN len(string_split(host, '.')) <= 2 THEN host
              ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         END AS domain
  FROM p
)
SELECT domain, host,
       count(*) AS n_docs,
       count(DISTINCT url_lang) AS n_langs,
       round(avg(n_chars), 2) AS avg_chars
FROM d
WHERE domain NOT IN ('example.net')
GROUP BY domain, host
ORDER BY domain, host
"""


def filter_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold quality filtering: keep documents whose
    length lies inside the corpus [p5, p95] band AND whose stopword
    ratio is at or above the corpus median — the standard two-pass
    distribution-relative filter (absolute thresholds drift across
    corpora; percentile bands self-calibrate).

    Pass 1 computes the exact interpolated percentiles as ONE single-row
    aggregate (``percentile`` — exact, matching DuckDB quantile_cont);
    pass 2 broadcasts that row via crossJoin (Catalyst folds a 1-row
    broadcast nested loop — no driver collect, no shuffle) and filters.
    Emits per-doc signals plus the cut values so the oracle certifies
    both the band arithmetic and the survivor set."""
    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_text"),
        (
            _stopword_hits_expr(F.col("text")).cast("double")
            / F.greatest(
                F.size(F.array_remove(F.split(F.col("text"), r"\s+"), "")),
                F.lit(1),
            )
        ).alias("stop_ratio"),
    )
    cuts = sig.agg(
        F.percentile("n_chars_text", 0.05).alias("p05"),
        F.percentile("n_chars_text", 0.95).alias("p95"),
        F.percentile("stop_ratio", 0.5).alias("stop_med"),
    )
    return (
        sig.crossJoin(F.broadcast(cuts))
        .filter(
            # compare at the emitted rounding so an interpolation ulp
            # can't flip a boundary doc across engines
            (F.col("n_chars_text") >= F.round("p05", 2))
            & (F.col("n_chars_text") <= F.round("p95", 2))
            & (F.round("stop_ratio", 6) >= F.round("stop_med", 6))
        )
        .select(
            "doc_id",
            "n_chars_text",
            F.round("stop_ratio", 6).alias("stop_ratio"),
            F.round("p05", 2).alias("p05"),
            F.round("p95", 2).alias("p95"),
            F.round("stop_med", 6).alias("stop_med"),
        )
    )


def _stopword_hits_expr(col: Column) -> Column:
    from archive_to_parquet_spark.functions.text import _stopword_hits

    return _stopword_hits(col, "en")


FILTER_QUANTILE_SQL = r"""
WITH sig AS (
  SELECT doc_id,
         len(text) AS n_chars_text,
         len(regexp_extract_all(text, '{stop_re}')) * 1.0
           / greatest(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')), 1) AS stop_ratio
  FROM documents
), cuts AS (
  SELECT quantile_cont(n_chars_text, 0.05) AS p05,
         quantile_cont(n_chars_text, 0.95) AS p95,
         quantile_cont(stop_ratio, 0.5) AS stop_med
  FROM sig
)
SELECT doc_id, n_chars_text,
       round(stop_ratio, 6) AS stop_ratio,
       round(p05, 2) AS p05,
       round(p95, 2) AS p95,
       round(stop_med, 6) AS stop_med
FROM sig, cuts
WHERE n_chars_text >= round(p05, 2) AND n_chars_text <= round(p95, 2)
  AND round(stop_ratio, 6) >= round(stop_med, 6)
""".format(stop_re=stopword_pattern("en").replace("'", "''"))


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


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing of documents into
    1024-token contexts, sharded by source (operators/sampling.py
    pack_sequences): per-doc placement (offset, chunk span, boundary
    straddle). The window is PARTITIONED by shard — per-shard cumsums
    are independent, so there is no global sort and no
    single-partition WindowExec at any scale."""
    from archive_to_parquet_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", token_count_col("text", "whitespace").alias("nt")
    )
    return pack_sequences(with_tokens, "doc_id", "nt", 1024, "source")


PACK_SEQUENCES_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt
  FROM documents
), c AS (
  -- window SUM over integers is HUGEINT in DuckDB (pandas float64);
  -- cast back to BIGINT so the value-hash sees the same ints as Spark
  SELECT doc_id, source AS shard, nt,
         CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
  FROM t
)
SELECT doc_id, shard, nt AS n_tokens,
       CAST(cum_end - nt AS BIGINT) AS token_offset,
       CAST((cum_end - nt) // 1024 AS BIGINT) AS start_chunk,
       CAST(greatest(cum_end - 1, cum_end - nt) // 1024 AS BIGINT) AS end_chunk,
       CAST((cum_end - nt) % 1024 AS BIGINT) AS offset_in_chunk,
       CAST((cum_end - nt) // 1024 <> greatest(cum_end - 1, cum_end - nt) // 1024
            AS INT) AS spans_boundary
FROM c
"""


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


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 via inverted shingle index
    (no all-pairs compare; shuffle key = shingle)."""
    from archive_to_parquet_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


DEDUP_NGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric doc-in-doc detection: shingle containment C(a→b) =
    |S(a)∩S(b)|/|S(a)| ≥ 0.9 via the asymmetric prefix-filtered
    inverted index (operators/dedup.containment_pairs) — the extract/
    quote/boilerplate-wrap case symmetric Jaccard misses. Containment
    pairs are PLANTED deterministically: every 40th document gets a
    prefix-extract twin (its first 30 normalized words, doc_id +
    3000000) whose shingle set is contained in the original's by
    construction, so recall of the planted pairs is structural; the
    oracle computes the same construction + exact containment brute-
    force over the inverted index. Integer ppm scores — no float."""
    from archive_to_parquet_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    planted = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
        F.array_join(F.slice(F.split(norm, " "), 1, 30), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    # round 12 (guide §2.4/§7): the deterministic-output orderBy plans
    # a RANGE exchange whose bounds-sampling pass re-executes its
    # child — here the whole fused candidate-join + array_intersect
    # confirm ran TWICE per execution (the r12 profile's twin stages,
    # one writing nothing). Materializing the confirmed pairs (the
    # tiny filtered result, 67 rows at sf0.1) right below the sort
    # makes the sampler read blocks instead of recomputing the confirm.
    confirmed = containment_pairs(
        corpus, "doc_id", "text", shingle_n=3, threshold=0.9
    ).localCheckpoint()
    return confirmed.orderBy("id_sub", "id_sup")


DEDUP_CONTAINMENT_SQL = r"""
WITH base AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
), corpus AS (
  SELECT doc_id, t FROM base
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string((string_split(t, ' '))[1:30], ' ')
  FROM base WHERE doc_id % 40 = 0
), w AS (
  SELECT doc_id, string_split(t, ' ') AS words FROM corpus
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_sup, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_sub, id_sup,
       CAST(shared * 1000000 // sa.n AS BIGINT) AS containment_ppm
FROM shared
JOIN sizes sa ON id_sub = sa.doc_id
WHERE shared * 1000000 // sa.n >= 900000
ORDER BY id_sub, id_sup
"""


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs confirmed by exact Jaccard.

    The Spark plan is the approximate one — 32 minhashes, 8 LSH bands,
    band-bucket self-join — but every candidate is verified with true
    Jaccard, so the output is provably a subset of the exact pair set.
    The oracle computes the exact pair set independently (inverted
    index, no LSH); equality therefore checks LSH RECALL = 1.0 on this
    corpus (every true pair ≥ 0.5 collides in at least one band —
    deterministic, since minhashes are seeded xxhash64), not just shape.
    """
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates_confirmed(
        docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 64-bit signatures).

    Oracle-checked bit-for-bit: the signature is md5-nibble bit voting
    (engine-independent), and for max_hamming=3 < 4 chunk tables the
    pigeonhole bucketing is EXACT — so DuckDB's brute-force all-pairs
    twin must produce the identical pair set with identical distances.
    """
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3)


def _simhash_oracle_sql(max_hamming: int = 3, num_chunks: int = 4) -> str:
    """Generated DuckDB twin of the JVM md5 SimHash: same shingles, same
    md5 hi/lo-half bit votes, same chunk assembly — but brute-force
    all-pairs instead of pigeonhole buckets (exactness of the pigeonhole
    candidate generation is exactly what the equality then proves)."""
    chunk_bits = 64 // num_chunks

    def half_bit(b: int) -> str:
        start = 9 if b < 32 else 1  # chars 9-16 = low half, 1-8 = high
        return f"(('0x' || substr(h, {start}, 8))::BIGINT >> {b % 32}) & 1"

    votes = ",\n         ".join(
        f"SUM(CASE WHEN {half_bit(b)} = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(64)
    )
    chunks = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN v_{t * chunk_bits + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(chunk_bits)
        )
        + f" AS INT) AS c_{t}"
        for t in range(num_chunks)
    )
    ham = " + ".join(
        f"bit_count(xor(a.c_{t}::BIGINT, b.c_{t}::BIGINT))" for t in range(num_chunks)
    )
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         [array_to_string(words[i:i+2], ' ')
          for i in generate_series(1, greatest(len(words) - 2, 1))] AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), hx AS (
  SELECT doc_id, md5(g) AS h FROM e
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hx GROUP BY doc_id
), sig AS (
  SELECT doc_id,
         {chunks}
  FROM votes
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({ham} AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


DEDUP_SIMHASH_SQL = _simhash_oracle_sql()


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane LSH.

    The synthetic embeddings have no natural near-dups (max pairwise
    cosine ≈0.51), so the query plants them deterministically: every
    50th vector is unioned back under ``vec_id + 1000000``. Identical
    vectors ALWAYS share an LSH bucket (same input → same sign bits), so
    at threshold 0.99 recall is structural, and the oracle's brute-force
    all-pairs-cosine twin must match exactly — checking the bucketing,
    the in-bucket exact re-rank, and the cosine math in one go.
    """
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = embedding_near_duplicates(
        corpus, "vec_id", "embedding", threshold=0.99, num_planes=8
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


DEDUP_EMBEDDING_LSH_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.99
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over embeddings: deterministic coarse quantizer (every
    31st vector is a centroid), nearest-centroid cluster assignment,
    in-cluster exact cosine, drop-if-a-smaller-id-neighbor-is-≥0.99
    (operators/dedup.py semantic_dedup). Duplicates are planted (every
    50th vector re-added under id+1000000); an identical vector gets
    identical centroid distances, hence the same cluster — so recall is
    structural and DuckDB's brute-force twin must match every keep/drop
    decision."""
    from archive_to_parquet_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    cent = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    return semantic_dedup(corpus, cent, threshold=0.99, round_to=6)


DEDUP_SEMANTIC_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
), cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM corpus e CROSS JOIN cent c
  ) WHERE rn = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99
)
SELECT a.vec_id, a.bucket,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidates → exact-Jaccard-confirmed
    pairs → connected components → one representative per cluster.

    With exact confirmation the pair graph IS the exact-Jaccard graph,
    so the whole iterative label-propagation result is checkable against
    a recursive-CTE transitive closure in DuckDB (components = min
    reachable id; representatives = the component's min id)."""
    from archive_to_parquet_spark.operators.dedup import near_duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    labeled = near_duplicate_clusters(
        docs, "doc_id", "text", jaccard_threshold=0.5,
        num_hashes=32, bands=8,
    )
    return labeled.select(
        F.col("id").alias("doc_id"),
        "component",
        F.col("is_representative").cast("int").alias("is_rep"),
    )


# Exact-Jaccard pair graph (same machinery as DEDUP_NGRAM_SQL) → edges →
# transitive closure via recursive CTE → component = min reachable id.
DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
), comp AS (
  SELECT s AS id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT doc.doc_id AS doc_id,
       COALESCE(c.component, doc.doc_id) AS component,
       CAST(CASE WHEN COALESCE(c.component, doc.doc_id) = doc.doc_id
                 THEN 1 ELSE 0 END AS INT) AS is_rep
FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
"""


def dedup_near_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_near_clusters`` through the GALAXY-SCALE components
    path: alternating large-star/small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    O(log² n) rounds REGARDLESS of component diameter, where min-label
    propagation needs O(diameter) rounds and degrades on chain-shaped
    components. Same exact-Jaccard-confirmed pair graph, same output
    contract (component = min reachable id, representative = the
    component's min id), same recursive-CTE transitive-closure oracle —
    so the driver certifies that the two CC implementations agree on
    real corpus data, not just unit fixtures. This is the path a
    100-TB web-crawl dedup actually runs: near-dup graphs there carry
    long URL-variant chains, exactly the diameter pathology the star
    contraction removes.

    Scale shape: every star round is one groupBy(min) + one join, both
    shuffling on node id only; per-round lineage truncation, bounded
    1-row convergence probes (edge-set count + order-insensitive
    xxhash64 xor fold)."""
    from archive_to_parquet_spark.operators.dedup import near_duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    labeled = near_duplicate_clusters(
        docs, "doc_id", "text", jaccard_threshold=0.5,
        method="star", num_hashes=32, bands=8,
    )
    return labeled.select(
        F.col("id").alias("doc_id"),
        "component",
        F.col("is_representative").cast("int").alias("is_rep"),
    )


_LSPLIT_THRESH_U32 = 3435973836  # floor(0.8 · 2^32): 80/20 split


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: near-duplicate clusters
    (MinHash LSH candidates, exact-Jaccard confirmed, connected
    components — the ``dedup_near_clusters`` machinery) are assigned
    to a split AS A UNIT by hashing the component id, so a document
    and its near-duplicates can never straddle the train/heldout
    boundary — the eval-contamination path that per-document random
    splits leave open even after deduplication (the heldout copy of a
    kept train document is still a leak). Split membership is
    md5('lsplit' || component) truncated to 32 bits vs a literal 80%
    threshold: deterministic, engine-independent, and stable under
    corpus repartitioning (same property as ``sample_split``, lifted
    from document grain to cluster grain).

    Returns (doc_id, component, split) for every document.

    Scale: adds only per-row column expressions on top of the cluster
    labeling (LSH band join + O(diameter) label propagation — see
    ``near_duplicate_clusters``); the split step itself is
    shuffle-free.
    """
    from archive_to_parquet_spark.operators.dedup import (
        near_duplicate_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = near_duplicate_clusters(
        docs, "doc_id", "text", jaccard_threshold=0.5,
        num_hashes=32, bands=8,
    )
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("lsplit"), F.col("component").cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return labeled.select(
        F.col("id").alias("doc_id"),
        "component",
        F.when(u32 < _LSPLIT_THRESH_U32, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


# The cluster labeling is DEDUP_CLUSTERS_SQL verbatim (nested CTE);
# the split is a pure expression over the component id.
SPLIT_LEAKAGE_SQL = f"""
WITH base AS ({DEDUP_CLUSTERS_SQL})
SELECT doc_id, component,
       CASE WHEN ('0x' || substr(md5('lsplit' || CAST(component AS VARCHAR)),
                                 1, 8))::BIGINT < {_LSPLIT_THRESH_U32}
            THEN 'train' ELSE 'heldout' END AS split
FROM base
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


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10: every 50th vector queries the corpus.
    Broadcast queries × one corpus scan; rank on the ROUNDED score so
    float noise can't flip the deterministic (score, vec_id) order."""
    from archive_to_parquet_spark.operators.similarity import brute_force_top_k

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = brute_force_top_k(emb, q, k=10, round_to=6)
    return topk.select("query_id", "vec_id", "cosine", "rank")


ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, e.vec_id,
         -- cast to double: duckdb computes float-list cosine in float32,
         -- spark accumulates in double
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS cosine
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a deterministic coarse quantizer:
    every 31st corpus vector is a centroid (inverted-list id), queries
    probe their 4 nearest lists, exact cosine re-rank inside probed
    lists. Oracle-checked end-to-end — DuckDB reproduces assignment,
    probing, and re-rank exactly (distances/cosines rounded before
    ranking on both sides)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_top_k_fixed_centroids(
        emb, cent, q, k=10, n_probe=4, round_to=6, dim=64
    )


ANN_IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0
), assigned AS (
  SELECT vec_id, embedding, cid AS bucket
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
), qp AS (
  SELECT query_id, qv, cid AS bucket
  FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_distance(q.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) ASC,
                      c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id % 50 = 0
  ) WHERE rn <= 4
), scored AS (
  SELECT qp.query_id, a.vec_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], qp.qv::DOUBLE[]), 6) AS cosine
  FROM assigned a JOIN qp ON a.bucket = qp.bucket
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg driven to completion over
    the bounded events table (memory sink, processAllAvailable).

    Oracle-checked: append mode emits exactly the watermark-finalized
    windows — those with window_end ≤ max(event_time) − 2 h, since
    processAllAvailable runs a final batch after the watermark advances
    to cover all input. The batch oracle reproduces that cutoff with
    plain SQL (boundary semantics pinned by
    tests/test_streaming.py::test_append_mode_watermark_boundary)."""
    import tempfile
    import uuid

    from archive_to_parquet_spark.streaming.events import windowed_event_counts

    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-stream sources need a directory; stage the single parquet file
    stage = tempfile.mkdtemp(prefix="stream_events_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", stage)
        stream = spark.readStream.schema(schema).parquet(stage)
        agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
        name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name).select(
            F.col("window_start").cast("long").alias("hour_sec"),
            "event_type",
            "n",
            F.round("total_value", 4).alias("total_value"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


STREAM_EVENTS_HOURLY_SQL = """
WITH b AS (
  SELECT epoch_ns(ts) // 1000000000 AS ts_sec, event_type, value FROM events
), agg AS (
  SELECT ts_sec - ts_sec % 3600 AS hour_sec, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS total_value
  FROM b GROUP BY 1, 2
)
SELECT hour_sec, event_type, n, total_value FROM agg
WHERE hour_sec + 3600 <= (SELECT max(ts_sec) - 7200 FROM b)
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min inactivity gap) driven to
    completion — the streaming twin of rel_sessionize, at full session
    granularity.

    Oracle-checked: append mode emits sessions finalized by the
    watermark (session_end = last event + gap ≤ max event time − 2 h).
    The SQL twin sessionizes with lag+cumsum using session_window's
    INCLUSIVE merge semantics — an event exactly ``gap`` seconds after
    the previous one still merges (pinned by a sf0.1 pair at exactly
    1800 s; the ``>=`` variant splits it and diverges) — then applies
    the same cutoff."""
    import shutil
    import tempfile
    import uuid

    from archive_to_parquet_spark.streaming.events import sessionized_counts_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = tempfile.mkdtemp(prefix="stream_sessionize_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", stage)
        stream = spark.readStream.schema(schema).parquet(stage)
        agg = sessionized_counts_stream(stream, gap="30 minutes", watermark="2 hours")
        name = f"stream_sess_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name).select(
            "user_id",
            F.col("session_start").cast("long").alias("session_start"),
            F.col("session_end").cast("long").alias("session_end"),
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


STREAM_SESSIONIZE_SQL = """
WITH b AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec, value FROM events
), flagged AS (
  SELECT user_id, ts_sec, value, event_id,
         CASE WHEN ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id
                                              ORDER BY ts_sec, event_id) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM b
), sess AS (
  SELECT user_id, ts_sec, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id,
         min(ts_sec) AS session_start,
         max(ts_sec) + 1800 AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS total_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM agg
WHERE session_end <= (SELECT max(ts_sec) - 7200 FROM b)
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with exact cross-engine
    verification: per vector — the scale, integer L1 mass and
    position-weighted checksum of the quantized codes (exact ints, so
    the hash compare proves bit-identical quantization), plus an
    in-plan certification that dequantized cosine vs the original stays
    ≥ 0.99. Pure JVM higher-order functions; at 100 TB this is the 4×
    corpus-memory reduction step before ANN indexing."""
    from archive_to_parquet_spark.functions.vectors import (
        cosine_similarity_col,
        quantize_int8_cols,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qz = quantize_int8_cols("embedding")
    dequant = F.transform(
        qz["q"],
        lambda x: x.cast("double")
        * F.when(qz["scale"] == 0.0, F.lit(1.0)).otherwise(qz["scale"]),
    )
    return emb.select(
        "vec_id",
        F.round(qz["scale"], 6).alias("scale"),
        F.aggregate(
            qz["q"], F.lit(0), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.aggregate(
            F.zip_with(
                qz["q"],
                F.sequence(F.lit(1), F.size(qz["q"])),
                lambda x, i: x * i,
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).alias("q_checksum"),
        (cosine_similarity_col("embedding", dequant) >= 0.99)
        .cast("int")
        .alias("cos_ok"),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, scale,
         list_transform(emb, x -> greatest(-127, least(127,
           CAST(floor(x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)
                AS INT)))) AS qv
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS INT) AS q_l1,
       CAST(list_sum([qv[i] * i for i in generate_series(1, len(qv))]) AS INT)
         AS q_checksum,
       1 AS cos_ok
FROM q
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    build actually runs, as ONE declarative plan: Gopher-style quality
    gate (word count / mean word length / alpha fraction / required
    stopwords) → deterministic near-dup collapse on a 5-word prefix
    fingerprint (keep min doc_id per key; one shuffle) → deterministic
    train/val/test split. Every stage is the oracle-checked operator
    from its own catalog entry; this entry proves they compose without
    semantic drift. Catalyst fuses the gate into the scan and the split
    into the dedup output — 2 stages total."""
    from archive_to_parquet_spark.functions.text import gopher_quality_cols
    from archive_to_parquet_spark.operators.dedup import (
        dedup_exact_deterministic,
    )
    from archive_to_parquet_spark.operators.sampling import hash_split_col

    docs = _t(spark, sf_dir, "documents")
    q = gopher_quality_cols("text")
    gated = docs.select(
        "doc_id",
        "text",
        q["n_words"].alias("n_words"),
        q["mean_word_len"].alias("mwl"),
        q["frac_alpha_words"].alias("faw"),
        q["req_stopwords"].alias("rsw"),
    ).filter(
        (F.col("n_words") >= 30)
        & (F.col("mwl") >= 3)
        & (F.col("mwl") <= 10)
        & (F.col("faw") > 0.7)
        & (F.col("rsw") >= 1)
    )
    words = F.array_remove(F.split(F.lower("text"), r"\s+"), "")
    keyed = gated.withColumn(
        "fp", F.md5(F.concat_ws(" ", F.slice(words, 1, 5)).cast("binary"))
    )
    deduped = dedup_exact_deterministic(keyed, key="fp", order_cols=("doc_id",))
    return deduped.select(
        "doc_id",
        "n_words",
        hash_split_col("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).alias(
            "split"
        ),
    )


def _curation_pipeline_oracle_sql() -> str:
    from archive_to_parquet_spark.operators.sampling import hex_threshold

    return r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS lwords
  FROM documents
), gated AS (
  SELECT doc_id, lwords,
         CAST(len(words) AS INT) AS n_words,
         md5(array_to_string(lwords[1:5], ' ')) AS fp
  FROM w
  WHERE len(words) >= 30
    AND list_sum(list_transform(words, x -> length(x))) * 1.0
        / greatest(len(words), 1) BETWEEN 3 AND 10
    AND len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
        / greatest(len(words), 1) > 0.7
    AND len(list_intersect(list_transform(words, x -> lower(x)),
            ['the','be','to','of','and','that','have','with'])) >= 1
), deduped AS (
  SELECT doc_id, n_words,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM gated
)
SELECT doc_id, n_words,
       CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t80}' THEN 'train'
            WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t90}' THEN 'val'
            ELSE 'test' END AS split
FROM deduped WHERE rn = 1
""".format(t80=hex_threshold(0.8), t90=hex_threshold(0.9))


def stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join driven to completion:
    every (click, purchase) pair for the same user with the purchase
    within 1 hour of the click. Both sides are watermarked and the join
    carries a two-sided time-range predicate, so state stays bounded on
    a real stream; over the bounded input the inner join emits exactly
    the batch join result, so the SQL twin is an exact oracle."""
    import shutil
    import tempfile
    import uuid

    from archive_to_parquet_spark.streaming.events import interval_join_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = tempfile.mkdtemp(prefix="stream_cp_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", stage)
        stream = spark.readStream.schema(schema).parquet(stage)
        clicks = stream.filter(F.col("event_type") == "click")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = interval_join_stream(clicks, purchases, within="1 hour")
        name = f"stream_cp_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name).select(
            F.col("l_id").alias("click_id"),
            F.col("r_id").alias("purchase_id"),
            F.col("l_user").alias("user_id"),
            (F.col("r_time").cast("long") - F.col("l_time").cast("long")).alias(
                "gap_sec"
            ),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


STREAM_CLICK_PURCHASE_SQL = """
-- join at MICROSECOND precision (the stream compares real
-- timestamps); gap_sec floors each side to seconds, matching
-- Spark's cast(timestamp as long)
WITH b AS (
  SELECT event_id, user_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       (p.ts_us // 1000000) - (c.ts_us // 1000000) AS gap_sec
FROM b c JOIN b p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000
"""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) driven to
    completion: the surviving KEY SET is deterministic (first-arrival
    winners are not, so only keys are emitted), and over a bounded
    input it equals batch DISTINCT — the SQL twin is exact. State is
    watermark-bounded on a real stream."""
    import shutil
    import tempfile
    import uuid

    from archive_to_parquet_spark.streaming.events import dedup_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", stage)
        stream = spark.readStream.schema(schema).parquet(stage)
        deduped = dedup_stream(stream, ["user_id", "event_type"], "2 hours")
        name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                deduped.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name).select("user_id", "event_type")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


STREAM_DEDUP_KEYS_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with 2-bit multi-probe,
    oracle-checked end-to-end: the 8 planes are md5-derived LITERALS
    (identical in any engine), so DuckDB reproduces bucket assignment,
    probe expansion, and the in-bucket exact re-rank — equality checks
    the approximate algorithm itself, not a relaxed summary."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = fixed_hyperplanes(num_planes=8, dim=64)
    return lsh_top_k(
        emb, q, k=10, multi_probe_bits=2, planes=planes, round_to=6
    )


def _ann_lsh_oracle_sql(
    num_planes: int = 8, dim: int = 64, multi_probe_bits: int = 2, k: int = 10
) -> str:
    """Generated DuckDB twin of the literal-plane LSH top-k: the plane
    matrix is embedded as double literals (md5-derived, identical to the
    Spark plan's), buckets are sign-bit sums, probes are the same
    xor-mask expansion, re-rank the same rounded cosine."""
    planes = fixed_hyperplanes(num_planes, dim)
    plane_cols = ",\n         ".join(
        "[" + ", ".join(repr(x) for x in pl) + "]::DOUBLE[] AS p" + str(p)
        for p, pl in enumerate(planes)
    )

    def bucket(v: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({v}::DOUBLE[], p{p}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )

    masks = [0] + [1 << b for b in range(num_planes)]
    if multi_probe_bits >= 2:
        masks += [
            (1 << b1) | (1 << b2)
            for b1 in range(num_planes)
            for b2 in range(b1 + 1, num_planes)
        ]
    mask_list = ", ".join(str(m) for m in masks)
    return f"""
WITH planes AS (
  SELECT {plane_cols}
), c AS (
  SELECT vec_id, embedding, {bucket('embedding')} AS bucket
  FROM embeddings CROSS JOIN planes
), q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, {bucket('embedding')} AS b0
  FROM embeddings CROSS JOIN planes
  WHERE vec_id % 50 = 0
), probes AS (
  SELECT DISTINCT query_id, CAST(xor(b0::BIGINT, mask::BIGINT) AS INT) AS bucket
  FROM q0 CROSS JOIN (SELECT unnest([{mask_list}]) AS mask) m
), scored AS (
  SELECT p.query_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q0.qv::DOUBLE[]), 6) AS cosine
  FROM probes p
  JOIN c ON c.bucket = p.bucket
  JOIN q0 ON q0.query_id = p.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


ANN_LSH_SQL = _ann_lsh_oracle_sql()


# ---------------------------------------------------------------------------
# Retrieval / language-model / mixing operators (training-data pipeline)
# ---------------------------------------------------------------------------

# Fixed retrieval workload: terms drawn from the synthetic corpus vocab.
_BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q_shuffle", ["spark", "shuffle", "join"]),
    ("q_scan", ["hash", "table", "scan"]),
    ("q_sort", ["window", "sort", "merge"]),
]


def _bm25_relevance(docs: DataFrame) -> DataFrame:
    """Deterministic relevance set for the BM25 eval entries:
    (query_id, doc_id) for every document containing EVERY term of the
    query.

    Round 11 (guide §2.3/§3.3): formerly crossJoin(docs × broadcast
    term list) — a BroadcastNestedLoopJoin that streamed every document
    row 9× with the full text attached, then re-aggregated on
    (query_id, doc_id) to count per-query term hits (one more
    exchange). The query list is a tiny module literal, so the same
    set is computable in ONE narrow projection: per document a boolean
    AND of contains() per query, then explode the matching query ids —
    no pair multiplication, no BNLJ, no aggregation exchange. Pair set
    is identical by construction (doc relevant ⇔ AND of its term
    containments), verified by the unchanged oracle hashes."""
    import functools

    low = F.lower("text")
    per_query = [
        F.when(
            functools.reduce(
                lambda a, b: a & b,
                [F.contains(low, F.lit(t)) for t in terms],
                # initializer (ADVICE r11): reduce() over an empty term
                # list raised TypeError at plan build. TRUE reads the
                # empty query as vacuously satisfied ("no term is
                # missing"); _BM25_QUERIES is a fixed non-empty literal,
                # so for every real query `true AND ...` constant-folds
                # away and results are unchanged.
                F.lit(True),
            ),
            F.lit(qid),
        )
        for qid, terms in _BM25_QUERIES
    ]
    return docs.select(
        "doc_id",
        F.explode(
            F.filter(F.array(*per_query), lambda x: x.isNotNull())
        ).alias("query_id"),
    ).select("query_id", "doc_id")


def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2, b=0.75) top-10 retrieval over documents.

    Scale shape: the inverted index (per-doc term frequencies) is one
    shuffle on (doc_id, term) with map-side combine, then materialized
    ONCE hash-partitioned on doc_id — its three consumers (doc
    lengths, document frequencies, scoring) would otherwise each
    re-execute the tokenize+count pass, and the doc-keyed joins now
    plan co-partitioned with no exchange. Query terms and their
    document frequencies are broadcast, so the only doc-keyed join
    carries rows for matched query terms only (AQE broadcasts the small
    side). Ranking sorts on the ROUNDED score so cross-engine float
    summation order cannot flip ranks; ties break on doc_id.
    """
    from archive_to_parquet_spark.plans.checkpoint import (
        checkpoint_keeping_partitioning,
        checkpoint_partitioned,
    )

    docs = _t(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERIES for t in terms],
        "query_id string, term string",
    )
    tokens = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    tf = checkpoint_partitioned(
        tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf")),
        "doc_id",
    )
    # round 11 (guide §2.4/§5): dl feeds TWO consumers (corpus stats and
    # the scoring join) — un-materialized, the whole tf pass + per-doc
    # aggregation executed twice per run (the r11 profile's repeated
    # 12-15 s checkpoint-consumer stages). dl is one small row per doc;
    # the partitioning-keeping checkpoint keeps the doc_id co-partition
    # so the scoring join still plans exchange-free.
    dl = checkpoint_keeping_partitioning(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_counts = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_counts), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "score",
        )
    )


def _bm25_oracle_sql() -> str:
    values = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return rf"""
WITH q(query_id, term) AS (VALUES {values}),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(SUM(ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))),
               4) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
FROM ranked WHERE rank <= 10
"""


SEARCH_BM25_SQL = _bm25_oracle_sql()


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train an add-one-smoothed word-bigram
    LM on the corpus itself, then score every document by its mean bigram
    log-probability ln P(w2|w1) = ln((c(w1 w2) + 1) / (c(w1 ·) + V)),
    V = |distinct second words|. Low scores flag improbable word
    sequences (boilerplate, garbled text) — the perplexity-bucket filter
    of CCNet/RedPajama pipelines, with the n-gram LM trained distributed
    instead of KenLM.

    Scale shape: bigram counts are one shuffle with map-side combine;
    the prefix-count and vocab tables derive from the count table (not a
    second corpus pass); scoring co-keys doc-bigrams with counts on the
    bigram string (big-big but equi-keyed), prefix counts broadcast.
    """
    from archive_to_parquet_spark.functions.text import word_ngrams_col

    docs = _t(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id", F.explode(word_ngrams_col("text", 2)).alias("bg")
    ).filter(F.col("bg").contains(" "))
    c_bg = bigrams.groupBy("bg").agg(F.count("*").alias("c_bg"))
    c_w1 = (
        c_bg.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_w1"))
    )
    vocab = c_bg.select(F.substring_index("bg", " ", -1).alias("w2")).distinct()
    v = vocab.agg(F.count("*").cast("double").alias("v"))
    return (
        bigrams.join(c_bg, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(c_w1), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log((F.col("c_bg") + 1.0) / (F.col("c_w1") + F.col("v")))
                ),
                4,
            ).alias("avg_logp"),
        )
    )


LM_BIGRAM_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
),
b AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in generate_series(1, greatest(len(words) - 1, 1))]) AS bg
  FROM w
),
bigrams AS (SELECT doc_id, bg FROM b WHERE bg LIKE '% %'),
c_bg AS (SELECT bg, COUNT(*) AS c_bg FROM bigrams GROUP BY 1),
c_w1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(c_bg) AS c_w1 FROM c_bg GROUP BY 1
),
v AS (
  SELECT CAST(COUNT(DISTINCT split_part(bg, ' ', 2)) AS DOUBLE) AS v FROM c_bg
)
SELECT d.doc_id, COUNT(*) AS n_bigrams,
       round(AVG(ln((c_bg.c_bg + 1.0) / (c_w1.c_w1 + v.v))), 4) AS avg_logp
FROM bigrams d
JOIN c_bg USING (bg)
JOIN c_w1 ON c_w1.w1 = split_part(d.bg, ' ', 1)
CROSS JOIN v
GROUP BY 1
"""


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixing weights (alpha = 0.5): per-source
    token mass p_i is flattened to w_i ∝ sqrt(p_i) — the multilingual /
    multi-domain resampling rule (e.g. mC4, XLM-R) that upweights small
    domains without letting the head dominate. Emits the natural and
    resampled shares plus expected tokens drawn per 1M-token budget.

    Scale shape: one corpus-pass agg keyed by source (map-side combine),
    then two single-row broadcast normalizations — no data-sized shuffle
    beyond the per-source agg, regardless of corpus size.
    """
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").cast("double").alias("tot_tokens"))
    s2 = (
        s.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_tokens") / F.col("tot_tokens"))
        .withColumn("pa", F.sqrt("p"))
    )
    z = s2.agg(F.sum("pa").alias("z"))
    return s2.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("p_natural"),
        F.round(F.col("pa") / F.col("z"), 6).alias("weight"),
        F.round(F.col("pa") / F.col("z") * 1000000, 1).alias("expected_tokens_1m"),
    )


MIX_WEIGHTS_SQL = r"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(regexp_extract_all(text, '\S+'))) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT *, CAST(SUM(n_tokens) OVER () AS DOUBLE) AS tot FROM s),
u AS (SELECT *, n_tokens / tot AS p, sqrt(n_tokens / tot) AS pa FROM t),
z AS (SELECT *, SUM(pa) OVER () AS z FROM u)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(p, 6) AS p_natural,
       round(pa / z, 6) AS weight,
       round(pa / z * 1000000, 1) AS expected_tokens_1m
FROM z
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


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram entropy per document in nats — the cheap
    compression-ratio proxy quality filter (low entropy ⇒ repetitive /
    degenerate text, high ⇒ random noise). H = ln(n) − (Σ c·ln c) / n
    over the per-doc character histogram.

    Scale shape: explode to one row per character, then two groupBys
    keyed (doc_id, ch) and (doc_id) — no joins, both with map-side
    partial aggregation, so the shuffle carries histograms (bounded by
    alphabet size per doc), not raw characters.
    """
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    hist = (
        chars.filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    return hist.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            4,
        ).alias("entropy_nats"),
    )


TEXT_CHAR_ENTROPY_SQL = """
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
h AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM c WHERE ch <> '' GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars, COUNT(*) AS n_distinct,
       round(ln(CAST(SUM(c) AS DOUBLE)) - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c),
             4) AS entropy_nats
FROM h GROUP BY 1
"""


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: a character-trigram language
    model with add-½ smoothing is fit on the corpus itself, and each
    document is scored by its cross-entropy under the model (nats per
    trigram; exp(H) is the perplexity CCNet thresholds on to split a
    crawl into head/middle/tail quality buckets). Repetitive or
    formulaic text scores low, alien/garbled text scores high.

    Scale shape: trigram explode is pure column work (sequence +
    substr — no Python); the model is ONE groupBy over grams with
    map-side partials, and its size is bounded by charset³ (a fixed
    artifact, like CCNet's own KenLM files) so scoring is a BROADCAST
    join of per-doc gram histograms against the model — histograms, not
    raw grams, cross the shuffle, exactly like text_char_entropy.
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    # the trigram explode feeds BOTH aggregations' map-side partials —
    # on a single-split scan that pins the whole gram stream to one
    # task; spreading the narrow doc rows first is 3× at sf0.1
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 2),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    # two aggregations straight off the gram stream: each shuffles only
    # its map-side-partial output (gram totals; per-doc histograms).
    # Measured AGAINST the alternatives at sf0.1: deriving the model
    # from the histogram (with or without localCheckpoint) is 10-25%
    # slower — the explode is whole-stage-codegen-cheap to recompute,
    # while materializing or re-shuffling the histogram is not.
    counts = grams.groupBy("g").agg(F.count("*").alias("cg"))
    totals = counts.agg(F.sum("cg").alias("t"), F.count("*").alias("v"))
    model = counts.crossJoin(F.broadcast(totals)).select(
        "g",
        F.log(
            (F.col("cg") + F.lit(0.5)) / (F.col("t") + 0.5 * F.col("v"))
        ).alias("lp"),
    )
    hist = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    return (
        hist.join(F.broadcast(model), "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(
                -F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 4
            ).alias("h_nats"),
        )
    )


TEXT_LM_PERPLEXITY_SQL = """
WITH grams AS (
  SELECT doc_id, substr(text, CAST(u AS INT), 3) AS g
  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS u
        FROM documents WHERE length(text) >= 3)
),
counts AS (SELECT g, COUNT(*) AS cg FROM grams GROUP BY g),
tot AS (SELECT CAST(SUM(cg) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS v
        FROM counts),
model AS (SELECT g, ln((cg + 0.5) / (t + 0.5 * v)) AS lp FROM counts, tot),
hist AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       round(-SUM(c * lp) / SUM(c), 4) AS h_nats
FROM hist JOIN model USING (g)
GROUP BY doc_id
"""

def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights over hashed character-bigram features: a target
    distribution (here the deterministic doc_id %% 5 == 0 slice standing
    in for a curated domain) and the raw distribution are both modeled
    as add-1-smoothed histograms over 256 hash buckets, and every
    document's log importance weight is Σ c_b·(ln p_target(b) −
    ln p_raw(b)) — resampling by these weights tilts a raw crawl toward
    the target domain.

    Scale shape: bucketing is pure column math (codepoint polynomial,
    identical in both engines); both distributions are ONE map-side-
    partial aggregation over ≤256 buckets (a broadcast-sized model, by
    construction); only per-doc histograms cross the shuffle. Same
    plan discipline as text_lm_perplexity.
    """
    from archive_to_parquet_spark.operators.dedup import spread_small_scan

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    # same single-split-scan fix as text_lm_perplexity: the bigram
    # explode feeds three aggregations' map-side partials
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("g"),
    )
    bucketed = grams.select(
        "doc_id",
        (
            (F.ascii(F.col("g").substr(1, 1)) * 31
             + F.ascii(F.col("g").substr(2, 1))) % 256
        ).alias("b"),
    )
    # distributions aggregate straight off the bucket stream (256-row
    # outputs after map-side partials); see text_lm_perplexity for the
    # measured rejection of the histogram-derived variants
    raw = bucketed.groupBy("b").agg(F.count("*").alias("rb"))
    tgt = (
        bucketed.filter(F.col("doc_id") % 5 == 0)
        .groupBy("b")
        .agg(F.count("*").alias("tb"))
    )
    model = (
        raw.join(tgt, "b", "left")
        .select("b", "rb", F.coalesce("tb", F.lit(0)).alias("tb"))
    )
    totals = model.agg(
        F.sum("rb").alias("tr"), F.sum("tb").alias("tt")
    )
    lr = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("tb") + 1.0) / (F.col("tt") + 256.0))
            - F.log((F.col("rb") + 1.0) / (F.col("tr") + 256.0))
        ).alias("lr"),
    )
    hist = bucketed.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return (
        hist.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("lr")), 4).alias("logw"),
        )
    )


DSIR_IMPORTANCE_SQL = """
WITH grams AS (
  SELECT doc_id, substr(text, CAST(u AS INT), 2) AS g
  FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS u
        FROM documents WHERE length(text) >= 2)
),
bucketed AS (
  SELECT doc_id,
         (unicode(substr(g, 1, 1)) * 31 + unicode(substr(g, 2, 1))) % 256 AS b
  FROM grams
),
raw AS (SELECT b, COUNT(*) AS rb FROM bucketed GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS tb FROM bucketed WHERE doc_id % 5 = 0 GROUP BY b),
model AS (
  SELECT raw.b, rb, COALESCE(tb, 0) AS tb
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
tot AS (SELECT CAST(SUM(rb) AS DOUBLE) AS tr, CAST(SUM(tb) AS DOUBLE) AS tt
        FROM model),
lr AS (
  SELECT b, ln((tb + 1.0) / (tt + 256.0)) - ln((rb + 1.0) / (tr + 256.0)) AS lr
  FROM model, tot
),
hist AS (SELECT doc_id, b, COUNT(*) AS c FROM bucketed GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       round(SUM(c * lr), 4) AS logw
FROM hist JOIN lr USING (b)
GROUP BY doc_id
"""



# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name → (spark_fn, oracle_sql | None)
_CATALOG: dict[str, tuple[QueryFn, str | None]] = {
    "q1_projection_hash": (q1_projection_hash, Q1_SQL),
    "q2_include_text": (q2_include_text, Q2_SQL),
    "q2b_utf8_binary": (q2b_utf8_binary, Q2B_SQL),
    "q3_size_filter": (q3_size_filter, Q3_SQL),
    "q4_dedup_hash_groups": (q4_dedup_hash_groups, Q4_SQL),
    "q4b_distinct_hash_count": (q4b_distinct_hash_count, Q4B_SQL),
    "q5_extract_strings": (q5_extract_strings, Q5_SQL),
    "q6_union_group": (q6_union_group, Q6_SQL),
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
    "rel_supplier_balance_by_nation": (rel_supplier_balance_by_nation, REL_SUPPLIER_SQL),
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
    "text_bigram_topk": (text_bigram_topk, TEXT_BIGRAM_SQL),
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_minhash": (dedup_minhash, DEDUP_NGRAM_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_lsh": (dedup_embedding_lsh, DEDUP_EMBEDDING_LSH_SQL),
    "dedup_semantic": (dedup_semantic, DEDUP_SEMANTIC_SQL),
    "dedup_near_clusters": (dedup_near_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_near_clusters_star": (dedup_near_clusters_star, DEDUP_CLUSTERS_SQL),
    "split_leakage_safe": (split_leakage_safe, SPLIT_LEAKAGE_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "text_token_counts": (text_token_counts, TEXT_TOKENS_SQL),
    "text_lang_id": (text_lang_id, TEXT_LANG_ID_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "text_gopher_quality": (text_gopher_quality, TEXT_GOPHER_SQL),
    "text_topgram_repetition": (text_topgram_repetition, TEXT_TOPGRAM_SQL),
    "text_pii_redact": (text_pii_redact, TEXT_PII_SQL),
    "sample_split": (sample_split, _sample_split_oracle_sql()),
    "corpus_shuffle": (corpus_shuffle, CORPUS_SHUFFLE_SQL),
    "vocab_coverage": (vocab_coverage, VOCAB_COVERAGE_SQL),
    "decontaminate_ngrams": (decontaminate_ngrams, DECONTAMINATE_SQL),
    "sketch_accuracy": (sketch_accuracy, SKETCH_ACCURACY_SQL),
    "pack_sequences": (pack_sequences_q, PACK_SEQUENCES_SQL),
    "profile_table": (profile_table, _profile_oracle_sql()),
    "embedding_quantize": (embedding_quantize, EMBEDDING_QUANTIZE_SQL),
    "curation_pipeline": (curation_pipeline, _curation_pipeline_oracle_sql()),
    "crossdoc_spans": (crossdoc_spans, CROSSDOC_SPANS_SQL),
    "dedup_span_removal": (dedup_span_removal, DEDUP_SPAN_REMOVAL_SQL),
    "web_domain_stats": (web_domain_stats, WEB_DOMAIN_SQL),
    "filter_quantile_bands": (filter_quantile_bands, FILTER_QUANTILE_SQL),
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "stream_events_hourly": (stream_events_hourly, STREAM_EVENTS_HOURLY_SQL),
    "stream_sessionize": (stream_sessionize, STREAM_SESSIONIZE_SQL),
    "stream_click_purchase": (stream_click_purchase, STREAM_CLICK_PURCHASE_SQL),
    "stream_dedup_keys": (stream_dedup_keys, STREAM_DEDUP_KEYS_SQL),
    "search_bm25": (search_bm25, SEARCH_BM25_SQL),
    "lm_bigram_score": (lm_bigram_score, LM_BIGRAM_SQL),
    "mix_weights": (mix_weights, MIX_WEIGHTS_SQL),
    "rel_recursive_cte": (rel_recursive_cte, REL_RECURSIVE_SQL),
    "text_char_entropy": (text_char_entropy, TEXT_CHAR_ENTROPY_SQL),
    "text_lm_perplexity": (text_lm_perplexity, TEXT_LM_PERPLEXITY_SQL),
    "dsir_importance_weights": (dsir_importance_weights, DSIR_IMPORTANCE_SQL),
}

# TPC-H-pattern relational suite (classic plan shapes adapted to the
# trimmed testdata schema) — see queries_tpch.py module docstring.
from archive_to_parquet_spark import queries_tpch as _tpch  # noqa: E402

_CATALOG.update(_tpch.CATALOG)

# Corpus-format sources, quarantine routing, URL dedup, decayed aggs —
# see queries_ext.py module docstring.
from archive_to_parquet_spark import queries_ext as _ext  # noqa: E402

_CATALOG.update(_ext.CATALOG)
# the index-probe twin must be score-exact vs the corpus-scan BM25 —
# same oracle (set here: a module-level import in queries_ext would be
# circular)
_CATALOG["search_index_probe"] = (
    _CATALOG["search_index_probe"][0],
    SEARCH_BM25_SQL,
)
_CATALOG["eval_ndcg_bm25"] = (
    _CATALOG["eval_ndcg_bm25"][0],
    _ext._ndcg_oracle_sql(),
)

# Round-3 extension: JL projection, Bloom probe, count-min, lateral
# top-k — see queries_ext2.py module docstring.
from archive_to_parquet_spark import queries_ext2 as _ext2  # noqa: E402

_CATALOG.update(_ext2.CATALOG)

# Round-8 extension: hybrid RRF retrieval, constraint-suite audit,
# compaction planning, suffix-sort maximal repeats — see
# queries_ext3.py module docstring.
from archive_to_parquet_spark import queries_ext3 as _ext3  # noqa: E402

_CATALOG.update(_ext3.CATALOG)

# Round-9 extension: ROC-AUC eval, PSI drift monitor, vacuum planning,
# l-diversity audit, temperature mixing — see queries_ext4.py module
# docstring.
from archive_to_parquet_spark import queries_ext4 as _ext4  # noqa: E402

_CATALOG.update(_ext4.CATALOG)
# MRR composes the BM25 oracle — patched here like eval_ndcg_bm25 (a
# module-level build in queries_ext4 would be a circular import)
_CATALOG["eval_mrr_bm25"] = (
    _CATALOG["eval_mrr_bm25"][0],
    _ext4._mrr_oracle_sql(),
)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _CATALOG.items() if sql is not None}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The reference dataflow end-to-end over documents: project+hash →
    size filter → exact dedup (deterministic winner) → per-source stats."""
    docs = _t(spark, sf_dir, "documents")
    entries = docs.select(
        "source",
        F.col("doc_id").cast("string").alias("path"),
        F.octet_length("text").cast("long").alias("size"),
        F.sha2("text", 256).alias("hash_hex"),
    ).filter((F.col("size") >= 0) & (F.col("size") < (1 << 62)))
    w = Window.partitionBy("hash_hex").orderBy("source", "path")
    unique = (
        entries.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return unique.groupBy("source").agg(
        F.count("*").alias("n_unique"),
        F.sum("size").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# Tokenizer statistics + contrastive mining (round-2 additions)
# ---------------------------------------------------------------------------


def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-step statistic: adjacent char-pair counts weighted
    by word frequency, top 30. Two map-side-combinable shuffles (word,
    pair); cost after the first is bounded by vocabulary size."""
    from archive_to_parquet_spark.operators.tokenize import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(docs, "text")
        .orderBy(F.col("count").desc(), F.col("pair").asc())
        .limit(30)
    )


BPE_TOP_PAIRS_SQL = """
WITH wf AS (
  SELECT word, COUNT(*) AS freq
  FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              w -> w <> '')) AS word
    FROM documents
  ) GROUP BY word
), pairs AS (
  SELECT substr(word, i, 2) AS pair, freq
  FROM wf, UNNEST(range(1, length(word))) AS t(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS count
FROM pairs GROUP BY pair
ORDER BY count DESC, pair ASC LIMIT 30
"""


def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per anchor (every 25th vector),
    top-5 most-similar OTHER-label vectors. Broadcast anchors × one
    corpus scan; scores rounded before ranking for cross-engine
    determinism."""
    from archive_to_parquet_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return hard_negatives(emb, anchors, k=5, round_to=6)


MINE_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id % 25 = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neg_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)
           AS cosine
  FROM embeddings e JOIN q ON e.label <> q.q_label
), ranked AS (
  SELECT query_id, neg_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neg_id ASC) AS rank
  FROM scored
)
SELECT query_id, neg_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


_CATALOG.update(
    {
        "bpe_top_pairs": (bpe_top_pairs, BPE_TOP_PAIRS_SQL),
        "mine_hard_negatives": (mine_hard_negatives, MINE_HARD_NEGATIVES_SQL),
    }
)


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


_CATALOG.update({"graph_pagerank": (graph_pagerank, GRAPH_PAGERANK_SQL)})


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: odd doc_ids (the 'ingest batch') probe a
    MinHash band index built from even doc_ids (the 'existing corpus'),
    candidates confirmed by exact Jaccard — corpus text is only touched
    for the confirmed candidates, never rescanned for banding. Same
    recall-by-construction argument as dedup_minhash: every true pair
    collides in ≥1 of the 8 bands on this corpus, so the output equals
    the exact cross-partition Jaccard pair set the oracle computes."""
    from archive_to_parquet_spark.operators.candidates import exact_jaccard
    from archive_to_parquet_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        shingle_sets,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = minhash_band_index(corpus)
    candidates, _new_index = dedup_against_index(
        batch, index, jaccard_threshold=0.0
    )
    sh = shingle_sets(docs, "doc_id", "text", 3)
    pairs = candidates.select(
        F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
    )
    return (
        exact_jaccard(pairs, sh, 0.5)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("index_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


DEDUP_INCREMENTAL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS new_id, b.doc_id AS index_id, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY 1, 2
)
SELECT new_id, index_id,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON new_id = sa.doc_id
JOIN sizes sb ON index_id = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
"""


_CATALOG.update({"dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL)})


def stream_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup over a documents STREAM: the corpus arrives
    as 4 slice files (doc_id % 4), one per micro-batch
    (maxFilesPerTrigger=1); each batch probes the accumulated MinHash
    band index for cross-batch collisions, self-joins for intra-batch
    ones, and appends its own band rows (streaming/neardup.py — the
    probe+append loop of dedup_incremental driven by Structured
    Streaming foreachBatch). The emitted pair set is invariant to
    batch boundaries (each colliding pair is found exactly once, by
    the later arrival), so over the bounded stream it equals batch
    all-pairs banding; after exact-Jaccard confirmation (≥ 0.5) the
    oracle is the full exact pair set — same recall-by-construction
    as dedup_minhash. The reference has no near-dup tier (its
    `unique` is exact sha256, src/lib.rs:30); this is the streaming
    extension of that dedup model."""
    import glob
    import os
    import shutil
    import tempfile

    from archive_to_parquet_spark.operators.candidates import exact_jaccard
    from archive_to_parquet_spark.operators.dedup import shingle_sets
    from archive_to_parquet_spark.streaming.neardup import neardup_stream

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="stream_neardup_")
    stage = os.path.join(root, "in")
    os.makedirs(stage)
    try:
        for k in range(4):
            tmp = os.path.join(root, f"slice{k}")
            docs.filter(F.col("doc_id") % 4 == k).coalesce(1).write.parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(stage, f"{k:02d}.parquet")
            shutil.copy(part, dst)
            t = 1_700_000_000 + k * 10  # deterministic arrival order
            os.utime(dst, (t, t))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = neardup_stream(
            spark,
            stream,
            index_dir=os.path.join(root, "index"),
            pairs_dir=os.path.join(root, "pairs"),
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cand = (
            spark.read.parquet(os.path.join(root, "pairs"))
            .drop("batch_id")  # per-batch partition of the pair sink
            .dropDuplicates(["id_a", "id_b"])
            .localCheckpoint(eager=True)  # staging dir is removed below
        )
        sh = shingle_sets(docs, "doc_id", "text", 3)
        return exact_jaccard(cand, sh, 0.5).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


STREAM_NEARDUP_INCREMENTAL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words) - 2, 1))]) AS grams
  FROM w
), e AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(grams) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM e a JOIN e b ON a.g = b.g
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
"""


_CATALOG.update(
    {
        "stream_neardup_incremental": (
            stream_neardup_incremental,
            STREAM_NEARDUP_INCREMENTAL_SQL,
        )
    }
)


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


_CATALOG.update(
    {
        "rel_rank_functions": (rel_rank_functions, REL_RANK_FUNCS_SQL),
        "rel_datetime_funcs": (rel_datetime_funcs, REL_DATETIME_FUNCS_SQL),
        "sketch_mergeable_hll": (sketch_mergeable_hll, SKETCH_MERGEABLE_HLL_SQL),
    }
)


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


_CATALOG.update(
    {"rel_trailing_window_avg": (rel_trailing_window_avg, REL_TRAILING_WINDOW_SQL)}
)


def mixture_sample_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a training epoch honoring temperature-scaled mixture
    weights: per-source rates = weight·budget / source_tokens (capped
    at 1), applied as a deterministic md5-hash Bernoulli per doc — the
    same doc set on every run and engine. One corpus agg for the
    weights, one broadcast join + narrow filter for the epoch. Emits
    the per-source sample audit."""
    from archive_to_parquet_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    budget = 200_000.0
    s = docs.groupBy("source").agg(
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("double")
        .alias("n_tokens")
    )
    z = s.select(F.sqrt("n_tokens").alias("pa")).agg(F.sum("pa").alias("z"))
    rates = (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.sqrt("n_tokens") / F.col("z")) * budget / F.col("n_tokens"),
                ),
                6,
            ).alias("rate"),
        )
    )
    kept = mixture_sample(docs, rates, "source", "doc_id", seed="mix")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")))
        .cast("long")
        .alias("tokens_kept"),
    )


MIXTURE_SAMPLE_SQL = r"""
WITH s AS (
  SELECT source,
         CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY 1
), z AS (
  SELECT SUM(sqrt(n_tokens)) AS z FROM s
), rates AS (
  SELECT source,
         round(least(1.0, (sqrt(n_tokens) / (SELECT z FROM z))
                          * 200000.0 / n_tokens), 6) AS rate
  FROM s
), kept AS (
  SELECT d.source, d.text
  FROM documents d JOIN rates r ON d.source = r.source
  WHERE r.rate >= 1.0
     OR substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens_kept
FROM kept GROUP BY source
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


_CATALOG.update(
    {
        "mixture_sample_epoch": (mixture_sample_epoch, MIXTURE_SAMPLE_SQL),
        "rel_scd2_intervals": (rel_scd2_intervals, REL_SCD2_SQL),
    }
)


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


_CATALOG.update(
    {
        "sketch_heavy_hitters": (sketch_heavy_hitters, SKETCH_HEAVY_HITTERS_SQL),
    }
)


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (functions/html.py — the step
    downstream of the WARC source). Each document is wrapped into a
    deterministic HTML page (title, style block, entity-encoded
    snippet, comment, anchor) and pushed through the pure-JVM
    extractor; title and link extraction ride along. The oracle builds
    the identical page in SQL and applies the same regex pipeline
    (dialect-shared patterns), so any extractor drift mismatches."""
    from archive_to_parquet_spark.functions.html import (
        html_links,
        html_title,
        html_to_text,
    )

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><head><title> Doc &amp; "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit("<script>var x=1;</script></head><body><h1>Heading</h1>"),
        F.lit("<p>"),
        F.col("text"),
        F.lit('</p><!-- hidden --><a href="https://ex.com/'),
        F.col("doc_id").cast("string"),
        F.lit('">link</a>&nbsp;&lt;end&gt;</body></html>'),
    )
    return docs.select(
        "doc_id",
        html_title(page).alias("title"),
        html_to_text(page).alias("body_text"),
        html_links(page).getItem(0).alias("first_link"),
    )


def _html_extract_oracle() -> str:
    from archive_to_parquet_spark.functions.html import (
        oracle_html_to_text_sql,
    )

    page = (
        "'<html><head><title> Doc &amp; ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p{color:red}</style>"
        "<script>var x=1;</script></head><body><h1>Heading</h1>' || "
        "'<p>' || text || '</p><!-- hidden -->"
        '<a href="https://ex.com/\' || CAST(doc_id AS VARCHAR) || \'">'
        "link</a>&nbsp;&lt;end&gt;</body></html>'"
    )
    body = oracle_html_to_text_sql("page")
    return f"""
WITH pages AS (
  SELECT doc_id, {page} AS page FROM documents
)
SELECT doc_id,
       trim(regexp_replace(replace(replace(
           regexp_extract(page, '(?is)<title\\b[^>]*>(.*?)</title>', 1),
           '&amp;', '&'), '&nbsp;', ' '), '\\s+', ' ', 'g')) AS title,
       {body} AS body_text,
       regexp_extract(page,
           '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''>]+)["'']', 1)
         AS first_link
FROM pages
"""


_CATALOG.update(
    {
        "text_html_extract": (text_html_extract, _html_extract_oracle()),
    }
)


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


_CATALOG.update(
    {
        "maintenance_snapshot_diff": (
            maintenance_snapshot_diff,
            MAINT_SNAPSHOT_DIFF_SQL,
        ),
        "maintenance_profile_table": (
            maintenance_profile_table,
            MAINT_PROFILE_SQL,
        ),
    }
)


def sample_fixed_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count per-group sampling without replacement
    (operators/sampling.sample_fixed_per_group): exactly 25 documents
    per language, selected by ranking the md5-derived uniform — deterministic,
    engine-portable (hex-string order, no float transforms), and
    replayable row-for-row by the DuckDB QUALIFY twin."""
    from archive_to_parquet_spark.operators.sampling import (
        sample_fixed_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return sample_fixed_per_group(
        docs, "lang", 25, "doc_id", seed="quota"
    ).select("doc_id", "lang")


SAMPLE_FIXED_SQL = """
SELECT doc_id, lang
FROM documents
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY substr(md5('quota' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
) <= 25
"""


_CATALOG.update(
    {
        "sample_fixed_per_lang": (sample_fixed_per_lang, SAMPLE_FIXED_SQL),
    }
)
