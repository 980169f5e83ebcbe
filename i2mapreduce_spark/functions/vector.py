"""Shared vector column expressions (JVM-side, whole-stage-codegen
friendly).

These are the scalar/per-row kernels; the batch-matrix kernels (top-k
cosine etc.) live in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def l2_norm_expr(vec_col: str | Column) -> Column:
    """round(sqrt(sum(x^2)), 4) over an array column.

    Elements are cast float->double BEFORE squaring: the fixtures store
    float32, and squaring in float32 then widening drifts from DuckDB's
    double arithmetic.
    """
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sq = F.aggregate(
        col,
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return F.round(F.sqrt(sq), 4)
