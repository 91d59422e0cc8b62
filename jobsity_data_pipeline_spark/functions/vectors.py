"""Vector math over ``array<float>`` embedding columns — JVM-side.

``zip_with`` + ``aggregate`` keep the dot products inside codegen; no
Python crosses the wire for similarity search. All math is done in
double precision (embeddings cast up first) so the DuckDB oracle —
which also unrolls to double sums — matches bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (never NaN/div0)."""
    d = dot(a, b)
    nn = norm(a) * norm(b)
    return F.when(nn > 0, d / nn).otherwise(F.lit(0.0))

