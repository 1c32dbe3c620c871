"""Vector math over ``array<float>`` embedding columns.

All pure column expressions via higher-order functions (``aggregate`` /
``zip_with``) — JVM-side, no Python in the hot path. At 100 TB these run
inside whole-stage codegen over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _chain_sum(terms: list[Column]) -> Column:
    """Left-associative sum — the same addition order as an
    ``F.aggregate`` fold (``((0+t0)+t1)+…``), so results are
    bit-identical doubles."""
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def dot_col(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Double dot product. With ``dim`` (the corpus' fixed embedding
    length) the fold is unrolled into a fixed-length sum that
    whole-stage codegen compiles — the interpreted
    ``aggregate(zip_with(...))`` lambda form dominated every
    vector-heavy entry in the round-11 profile. Identical fold order →
    bit-identical doubles."""
    if dim is not None:
        if isinstance(a, str) and isinstance(b, str):
            return F.expr(unrolled_dot_sql(a, b, dim))
        ac, bc = _c(a), _c(b)
        return _chain_sum(
            [ac[i].cast("double") * bc[i].cast("double") for i in range(dim)]
        )
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def d2_col(a: str, b: str, dim: int | None = None) -> Column:
    """Squared L2 distance Σ_i (a[i]−b[i])² between two array columns,
    as a double — fold, or unrolled over a fixed ``dim`` like
    :func:`dot_col` (same left-to-right order, bit-identical doubles)."""
    if dim is not None:
        return F.expr(unrolled_d2_sql(a, b, dim))
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def d2e6_col(a: str, b: str, dim: int | None = None) -> Column:
    """Integer micro-unit squared L2 distance Σ_i round((a[i]−b[i])²·1e6)
    as BIGINT: every term is rounded BEFORE the sum, so the sum is exact
    integer math in any order and any engine (the deterministic
    clustering/ANN contract). Rounding the sum of :func:`d2_col`
    instead gives a different value. Fold, or unrolled over a fixed
    ``dim`` (see :func:`unrolled_d2e6_sql`)."""
    if dim is not None:
        return F.expr(unrolled_d2e6_sql(a, b, dim))
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: F.round(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * 1e6,
                0,
            ),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ).cast("long")


def l2_norm_col(a: Column | str, dim: int | None = None) -> Column:
    if dim is not None:
        if isinstance(a, str):
            return F.expr(unrolled_norm_sql(a, dim))
        ac = _c(a)
        return F.sqrt(
            _chain_sum(
                [
                    ac[i].cast("double") * ac[i].cast("double")
                    for i in range(dim)
                ]
            )
        )
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v,
        )
    )


def cosine_similarity_col(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (no NaN propagation).

    NOTE for joins: this evaluates THREE array aggregates per invocation
    (dot + both norms). When scoring many pairs, precompute each side's
    norm once per row below the join and use ``cosine_from_norms`` —
    norms then cost O(rows), not O(pairs).
    """
    denom = l2_norm_col(a, dim) * l2_norm_col(b, dim)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot_col(a, b, dim) / denom
    )


def cosine_from_norms(
    a: Column | str,
    b: Column | str,
    norm_a: Column | str,
    norm_b: Column | str,
    dim: int | None = None,
) -> Column:
    """Cosine using precomputed per-row norms — one aggregate per pair."""
    na = _c(norm_a)
    nb = _c(norm_b)
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot_col(a, b, dim) / denom
    )


def unrolled_d2e6_sql(a: str, b: str, dim: int) -> str:
    """SQL string for Σ_i round((a[i]−b[i])²·1e6) over a FIXED dim,
    cast to BIGINT — the integer micro-unit squared L2 distance the
    deterministic clustering/ANN operators use.

    Why unrolled: the ``aggregate(zip_with(...))`` higher-order form is
    interpreted per element (no whole-stage codegen for lambda
    functions), and the r11 profile showed it dominating every
    vector-heavy entry (cluster_kmeans spent 8.8 s of 9.5 s executor
    time evaluating it). A fixed-length sum of ``a[i]`` terms compiles
    into the stage's generated code. Addition order matches the fold
    (left-to-right, index order), and every term is an integer-valued
    double, so the sum is bit-identical to the fold's.

    ANSI note: indexes are 0-based and must exist — callers pass the
    corpus' fixed embedding dim (validated upstream by schema).
    """
    terms = " + ".join(
        f"round((CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) * "
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) * 1e6, 0)"
        for i in range(dim)
    )
    return f"CAST({terms} AS BIGINT)"


def unrolled_dot_sql(a: str, b: str, dim: int) -> str:
    """SQL string for the double dot product over a FIXED dim — the
    codegen-friendly twin of :func:`dot_col` (same left-to-right
    addition order, so identical doubles)."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(dim)
    )


def unrolled_norm_sql(a: str, dim: int) -> str:
    """SQL string for the L2 norm over a FIXED dim — codegen-friendly
    twin of :func:`l2_norm_col` (same fold order)."""
    sq = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    return f"sqrt({sq})"


def unrolled_d2_sql(a: str, b: str, dim: int) -> str:
    """SQL string for the plain squared L2 distance Σ_i (a[i]−b[i])²
    over a FIXED dim (no rounding, no scaling) — codegen-friendly twin
    of :func:`d2_col`'s fold. Same left-to-right order → bit-identical
    doubles."""
    return " + ".join(
        f"((CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)) * "
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE)))"
        for i in range(dim)
    )


def quantize_int8_cols(emb: Column | str) -> dict[str, Column]:
    """Symmetric int8 quantization of an embedding column — the 4×
    memory/IO reduction an ANN corpus wants at 100 TB (int8 + one
    float scale per vector instead of float32 per dim).

    scale = max|x| / 127; q_i = clamp(floor(x_i/scale + 0.5), ±127).
    ``floor(x + 0.5)`` is used instead of round() because round-half
    modes differ across engines while floor is universal — every q_i is
    a small EXACT integer, so checksums over q compare bit-identically
    between Spark and any oracle. Inputs are widened float32→double
    first (exact) so both engines do identical double arithmetic.
    Zero vectors quantize to all-zero with scale 0.

    ``q`` reads the scale from the column ``scale``: project
    ``scale`` first, then ``q``, and alias nothing else ``scale`` in
    ``q``'s select (Spark resolves a lambda's column to a same-named
    alias of its own select list). Written inline, the max-abs fold
    sits inside ``q``'s per-element lambda, and Spark re-evaluates it
    for every element — O(d²) work per vector.
    """
    e = F.transform(_c(emb), lambda x: x.cast("double"))
    scale = (
        F.aggregate(e, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))
        / 127.0
    )
    safe = F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale"))
    q = F.transform(
        e,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x / safe + 0.5).cast("int")),
        ),
    )
    return {"scale": scale, "q": q}
