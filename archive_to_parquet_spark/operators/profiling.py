"""Column-profiling / audit operators: readability scoring, Benford
first-digit analysis and the Population Stability Index drift monitor
as reusable DataFrame-in/DataFrame-out transforms (the
``plans.maintenance.profile_table`` family).

All were born as catalog queries; the catalog entries (and, for PSI,
the streaming monitor in ``streaming/quality.py``) are now thin
wrappers over these so pipelines can audit arbitrary columns, not just
the benchmark tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.text import terms_col

# log10(1 + 1/d) in nano-units, d = 1..9 — precomputed integer literals
# so no engine evaluates a transcendental (ln/log10 differ in the last
# ulp between JVM and libm; see the k-anonymity/ndcg integer-math
# precedent)
BENFORD_EXPECTED_E9: list[tuple[int, int]] = [
    (1, 301029996),
    (2, 176091259),
    (3, 124938737),
    (4, 96910013),
    (5, 79181246),
    (6, 66946790),
    (7, 57991947),
    (8, 51152522),
    (9, 45757491),
]


def flesch_readability(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Flesch reading-ease per row from three regex counts — words,
    sentences, vowel-group "syllables": 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words). All inputs are integer counts,
    so the double is bit-identical across engines (rounded 4dp).

    Pure per-row JVM regex — scan-only, zero shuffle (plan-shape pinned
    for the catalog wrapper in tests/test_plan_shapes.py). At 100 TB
    this is a free rider on whatever scan the pipeline already does.

    Returns ``keep_cols`` (default: every input column) plus
    ``n_words``, ``n_sentences``, ``n_syllables``, ``flesch``.
    """
    words = F.size(terms_col(text_col))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(text_col, F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(text_col), F.lit("[aeiouy]+"), F.lit(0))
    )
    w = F.greatest(words, F.lit(1)).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / w)
    )
    return df.select(
        *(df.columns if keep_cols is None else keep_cols),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
    )


def benford_first_digit(df: DataFrame, value_col: str | Column) -> DataFrame:
    """Benford's-law audit of a numeric column: observed first-digit
    frequencies vs the expected log distribution — the classic
    fabricated-numbers screen.

    One groupBy on the digit (9 groups, map-side partials), the 1-row
    total and 9-row expectation table broadcast — nothing here grows
    with the data, so the audit costs one scan at any scale. Rates are
    integer nano-units via exact half-up division, never floats.

    Returns per digit: ``n``, ``observed_e9``, ``expected_e9``,
    ``gap_e9`` (absolute deviation).
    """
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    # try_cast: negatives lead with '-', which must become null (and be
    # filtered) rather than an ANSI cast error
    digit = F.substring(
        col.cast("decimal(18,2)").cast("string"), 1, 1
    ).try_cast("int")
    counts = (
        df.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    expected = df.sparkSession.createDataFrame(
        BENFORD_EXPECTED_E9, "digit int, expected_e9 long"
    )
    obs = F.expr("(2 * n * 1000000000 + total) div (2 * total)")
    return (
        counts.crossJoin(F.broadcast(total))
        .join(F.broadcast(expected), "digit")
        .select(
            "digit",
            "n",
            obs.alias("observed_e9"),
            "expected_e9",
            F.abs(obs - F.col("expected_e9")).alias("gap_e9"),
        )
    )


# -- Population Stability Index drift monitor ---------------------------------

_PSI_BINS = 10
_PSI_WIDTH = 30.0  # value bins: [0,30), [30,60), ... clamped to [0,9]


def _psi_binned(events: DataFrame) -> DataFrame:
    """(is_ref, bin) per event — the shared binning step of the batch
    and streaming PSI monitors (even/odd event_id snapshots, 10 fixed
    value bins clamped to [0, 9])."""
    return events.filter(F.col("value").isNotNull()).select(
        (F.col("event_id") % 2 == 0).alias("is_ref"),
        F.least(
            F.greatest(
                F.floor(F.col("value") / _PSI_WIDTH).cast("int"), F.lit(0)
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )


def psi_bin_counts(events: DataFrame) -> DataFrame:
    """≤10-row (bin, ref_n, cur_n) counts — the ALGEBRAIC partial both
    PSI monitors fold to (mergeable by summation, so micro-batch
    partials sum to exactly this)."""
    sided = _psi_binned(events)
    return sided.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    )


def psi_report_from_counts(
    spark: SparkSession, counts: DataFrame
) -> DataFrame:
    """PSI report from materialized (bin, ref_n, cur_n) counts — the
    shared tail of ``eval_psi_drift`` and ``stream_psi_drift``: literal
    10-bin axis (empty bins contribute their smoothed term identically
    in every engine), Laplace smoothing, per-bin 6dp terms, total."""
    axis = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    totals = counts.agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    full = (
        axis.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).cast("bigint").alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).cast("bigint").alias("cur_n"),
        )
        .crossJoin(F.broadcast(totals))  # 1-row scalar fold
    )
    p = (F.col("ref_n") + 1).cast("double") / (
        F.col("ref_tot") + _PSI_BINS
    ).cast("double")
    q = (F.col("cur_n") + 1).cast("double") / (
        F.col("cur_tot") + _PSI_BINS
    ).cast("double")
    detail = full.select(
        "bin",
        "ref_n",
        "cur_n",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    ).localCheckpoint()  # 10 rows; total fold + final output reuse it
    total = detail.agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    return detail.crossJoin(F.broadcast(total)).select(
        "bin", "ref_n", "cur_n", "psi_term", "psi_total"
    )
