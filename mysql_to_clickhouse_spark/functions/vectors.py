"""Vector (embedding-column) expression helpers — all JVM-side lambda
expressions (transform/zip_with/aggregate), no UDFs.

Determinism: dot products and squared norms fold fixed-point bigints
(exact under any fold order), then a fixed sequence of IEEE double ops
produces the final value — bit-identical between Spark and the DuckDB
oracle twins (o_*), which state the same arithmetic via correlated
list_transform(range(dim), ...) lambdas.

Scale ranges (dim-64, elements |x| ≲ 1): dot at 1e12 → per-term ≤ 1e12,
64-term sum ≤ 6.4e13 (int64-safe); norm² at 1e9 → sum ≤ 6.4e10.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Q_SCALE = 1e6  # element quantization: floor(x * 1e6) → int
DOT_SCALE = Q_SCALE * Q_SCALE  # a quantized dot's implied scale
NORM_SCALE = 1e9


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def quantized(a: Column | str) -> Column:
    """Element-wise fixed-point quantization: floor(x·1e6) as bigint.

    Quantizing ELEMENTS (not products) is what makes the numpy kernel
    fast AND exact: integer dots of quantized vectors stay < 2^53, so
    float64 matmul (BLAS dgemm) computes them exactly under ANY
    accumulation order — determinism without giving up vectorization."""
    return F.transform(
        _c(a), lambda x: F.floor(x.cast("double") * F.lit(Q_SCALE)).cast("long")
    )


def o_quantized(a: str) -> str:
    return (
        f"list_transform(({a}), x -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {Q_SCALE!r}) AS BIGINT))"
    )


def fixed_dot(a: Column | str, b: Column | str) -> Column:
    """Exact dot product (bigint) of two quantized float arrays."""
    prods = F.zip_with(quantized(a), quantized(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def o_fixed_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(range({dim}), i -> "
        f"CAST(FLOOR(CAST(({a})[i+1] AS DOUBLE) * {Q_SCALE!r}) AS BIGINT)"
        f" * CAST(FLOOR(CAST(({b})[i+1] AS DOUBLE) * {Q_SCALE!r}) AS BIGINT)))"
    )


def fixed_norm_sq(a: Column | str) -> Column:
    """Exact fixed-point squared L2 norm (bigint) of a float array."""
    sq = F.transform(
        _c(a),
        lambda x: F.floor(
            x.cast("double") * x.cast("double") * F.lit(NORM_SCALE)
        ).cast("long"),
    )
    return F.aggregate(sq, F.lit(0).cast("long"), lambda acc, v: acc + v)


def o_fixed_norm_sq(a: str) -> str:
    return (
        f"list_sum(list_transform(({a}), x -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
        f" * {NORM_SCALE!r}) AS BIGINT)))"
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(fixed_norm_sq(a).cast("double") / F.lit(NORM_SCALE))


def o_l2_norm(a: str) -> str:
    return f"sqrt(CAST({o_fixed_norm_sq(a)} AS DOUBLE) / {NORM_SCALE!r})"


def q_norm(a: Column | str) -> Column:
    """L2 norm derived from the QUANTIZED vector (self-dot), so cosine's
    numerator and denominator share one quantization."""
    return F.sqrt(fixed_dot(a, a).cast("double") / F.lit(DOT_SCALE))


def o_q_norm(a: str, dim: int = 64) -> str:
    return f"sqrt(CAST({o_fixed_dot(a, a, dim)} AS DOUBLE) / {DOT_SCALE!r})"


def cosine(a: Column | str, b: Column | str) -> Column:
    """Deterministic cosine similarity: exact integer dot & norms over
    quantized elements, then the fixed IEEE sequence
    (dot/S) / (norm_a * norm_b)."""
    return (fixed_dot(a, b).cast("double") / F.lit(DOT_SCALE)) / (
        q_norm(a) * q_norm(b)
    )


def o_cosine(a: str, b: str, dim: int = 64) -> str:
    return (
        f"(CAST({o_fixed_dot(a, b, dim)} AS DOUBLE) / {DOT_SCALE!r})"
        f" / ({o_q_norm(a, dim)} * {o_q_norm(b, dim)})"
    )


def rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Top-k neighbors per ``id_a`` from ``(id_a, id_b, cos_sim)``
    candidates: a bigint ``rk`` by the similarity family's one total
    order (cos_sim desc, id_b asc), kept while ``rk ≤ k``. Every oracle
    states the same ROW_NUMBER order, so exact ties rank identically."""
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return cand.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


# ---------------------------------------------------------------------------
# numpy kernel: the SAME quantized arithmetic, at BLAS speed
# ---------------------------------------------------------------------------
# Spark's higher-order array lambdas (zip_with/aggregate) are interpreted
# per element — correct but ~100× too slow for all-pairs work. This
# kernel reproduces the EXACT arithmetic: quantize elements with floor
# (one pass), then dgemm the quantized float64 matrices. Every product
# and partial sum is an integer < 2^53, so BLAS computes the integer dot
# EXACTLY under any blocking/FMA order — bit-identical to the lambda
# form and the DuckDB oracle. Used via mapInPandas in §2.I.


def np_quantize(mat):
    """floor(x·1e6) per element, kept in float64 (values are exact
    integers; float64 keeps dgemm on the fast path)."""
    import numpy as np

    return np.floor(mat.astype(np.float64) * Q_SCALE)


def np_fixed_norms(q_mat):
    """Norms from quantized rows — same value as q_norm()/o_q_norm().
    (Row-wise self-dots of sub-2^53 integers: exact in float64.)"""
    import numpy as np

    selfdot = (q_mat * q_mat).sum(axis=1)
    return np.sqrt(selfdot / DOT_SCALE)


def np_fixed_cosines(q_quant, q_norms, v_quant, v_norms):
    """Exact cosine matrix (q×n) via dgemm on quantized matrices.
    Bit-identical to cosine()/o_cosine()."""
    dots = q_quant @ v_quant.T  # exact: integer values < 2^53
    return (dots / DOT_SCALE) / (q_norms[:, None] * v_norms[None, :])
