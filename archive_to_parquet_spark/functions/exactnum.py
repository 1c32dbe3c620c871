"""Exact cross-engine money/ratio aggregation fragments.

Motivation: ``round(SUM(<double>))`` / ``round(AVG(<double>))`` are
accumulation-order-dependent — a different partition count, executor
count, or AQE decision can flip the rounded digit (caught live by
``tools/preflight_vanilla.py``: ``round(avg(double), 4)`` changed with
the session's shuffle partitioning). Every money column in the corpus
is 2dp-discrete, so the same aggregates are EXACT when carried as
integer cents (or 1e-4/1e-6 units for discount/tax products) and
rounded half-up with integer division. Results are then identical on
every engine, partitioning, and cluster size — determinism an analytics
engine should guarantee anyway.

Each Spark fragment (``F.expr`` — Spark SQL, ``div``) has a DuckDB twin
(``//``) used verbatim inside oracle statements; keep them in lockstep.
int64 headroom: e4-unit revenue sums reach ~1.5e15 per group at sf1;
at extreme scale switch the sums to DECIMAL(38,0)/HUGEINT (see
``ratio_half_up`` which already routes its scaled numerator through
DECIMAL(38,0)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents_expr(col: str) -> str:
    """Spark SQL fragment: exact integer cents of a 2dp money column.

    ``floor(x·100 + 0.5)``, not ``round(x·100)``: Spark's Round on
    doubles goes through BigDecimal per value (measured 2.5× on the
    TPC-H Q1 scan), while floor is a single libm call. The two agree
    for every 2dp-discrete input of either sign — x·100 sits within
    ~1e-10 of an integer n, and floor(n ± ε + 0.5) = n whenever
    ε < 0.5. The DuckDB twins keep round() (cheap there)."""
    return f"cast(floor({col} * 100 + 0.5) as bigint)"


def cents_col(col) -> Column:
    """Column form of :func:`cents_expr` for pre-projection: compute the
    cents ONCE per row when several aggregates share the same column
    (aggregate update expressions are not common-subexpression
    eliminated across aggregates)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def cents_expr_sql(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


def cents_sum(col: str, alias: str) -> Column:
    """Σ of a 2dp column, emitted at exact 2dp (division only — the
    'rounding' is a no-op on the true value)."""
    return F.expr(
        f"cast(sum({cents_expr(col)}) as double) / 100.0"
    ).alias(alias)


def cents_sum_sql(col: str) -> str:
    return f"CAST(SUM({cents_expr_sql(col)}) AS BIGINT) / 100.0"


def cents_sum_round(units_expr: str, unit_pow: int, alias: str) -> Column:
    """Σ of an exact integer ``10^-unit_pow``-unit expression, half-up
    to 2dp. ``unit_pow`` ≥ 2 (e.g. 4 for price×discount products)."""
    half = 10 ** (unit_pow - 2) // 2
    div = 10 ** (unit_pow - 2)
    return F.expr(
        f"cast((sum({units_expr}) + {half}) div {div} as double) / 100.0"
    ).alias(alias)


def cents_sum_round_sql(units_expr: str, unit_pow: int) -> str:
    half = 10 ** (unit_pow - 2) // 2
    div = 10 ** (unit_pow - 2)
    return f"((CAST(SUM({units_expr}) AS BIGINT) + {half}) // {div}) / 100.0"


def cents_avg(col: str, dp: int, alias: str) -> Column:
    """Half-up AVG of a 2dp column at ``dp`` decimals, exact integers."""
    scale = 10 ** (dp - 2)
    return F.expr(
        f"cast((2 * sum({cents_expr(col)}) * {scale}"
        f" + count(*)) div (2 * count(*)) as double) / {10**dp}.0"
    ).alias(alias)


def cents_avg_sql(col: str, dp: int) -> str:
    scale = 10 ** (dp - 2)
    return (
        f"((2 * CAST(SUM({cents_expr_sql(col)}) AS BIGINT)"
        f" * {scale} + COUNT(*)) // (2 * COUNT(*))) / {10**dp}.0"
    )


def isum_2dp(int_col: str, alias: str) -> Column:
    """Σ over a pre-projected cents column, emitted at exact 2dp."""
    return F.expr(f"cast(sum({int_col}) as double) / 100.0").alias(alias)


def isum_round(int_col: str, unit_pow: int, alias: str) -> Column:
    """Σ over a pre-projected 10^-unit_pow-unit column, half-up to 2dp."""
    half = 10 ** (unit_pow - 2) // 2
    div = 10 ** (unit_pow - 2)
    return F.expr(
        f"cast((sum({int_col}) + {half}) div {div} as double) / 100.0"
    ).alias(alias)


def iavg_cents(int_col: str, dp: int, alias: str) -> Column:
    """Half-up AVG over a pre-projected cents column at ``dp`` dp."""
    scale = 10 ** (dp - 2)
    return F.expr(
        f"cast((2 * sum({int_col}) * {scale}"
        f" + count(*)) div (2 * count(*)) as double) / {10**dp}.0"
    ).alias(alias)


def ratio_half_up(num_agg: str, den_agg: str, dp: int, alias: str) -> Column:
    """Half-up ``num/den`` at ``dp`` decimals from two exact integer
    aggregate fragments; the scaled numerator goes through
    DECIMAL(38,0) so the ×10^dp can't saturate int64."""
    s = 10**dp
    return F.expr(
        f"cast((2 * cast({num_agg} as decimal(38,0)) * {s} + {den_agg})"
        f" div (2 * {den_agg}) as double) / {s}.0"
    ).alias(alias)

