"""Vector math over `array<float>` embedding columns, JVM-side.

Built on SQL higher-order functions (zip_with + aggregate) so the inner
loop runs in codegen, not Python. Folds are sequential left-to-right in
both Spark and DuckDB's list functions, so with identical operand order
the IEEE results match exactly — oracle-safe after 6dp rounding.

For wide fan-out similarity (ANN) see operators/similarity.py; these are
the per-pair kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def to_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-to-right dot product. DuckDB mirror:
    list_inner_product(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[])).

    Implementation note (measured at sf0.1, 200k pairs × dim 64): the
    zip_with+aggregate fold runs ~4× FASTER than a fully unrolled
    element_at chain — ANSI element_at pays per-element bounds/null
    checks and a 64-term tree falls out of whole-stage codegen. The
    `dim` parameter is kept for API stability but both paths fold; the
    big wins live in the callers (cast arrays to double ONCE before a
    pair join, hoist norms out of the per-pair expression)."""
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


COSINE_SQL = (
    "(list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))))"
)
