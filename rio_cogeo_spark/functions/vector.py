"""Embedding vector ops as JVM-side expressions (no Python in the hot path).

Cosine / dot products are built from ``zip_with`` + ``aggregate`` over
``array<double>`` so whole-stage codegen keeps them on the JVM; elements
are cast to double *before* arithmetic so the DuckDB oracle (which casts
the same way) sees identical IEEE ops up to summation order — outputs are
rounded to 6dp wherever the oracle compares values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_rounded(a: Column, b: Column) -> Column:
    return F.round(cosine(as_double_array(a), as_double_array(b)), 6)


# DuckDB twins (operate on float[] columns; cast-to-double first).
def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def cosine_sql(a: str, b: str) -> str:
    d = dot_sql(a, b)
    na = f"sqrt({dot_sql(a, a)})"
    nb = f"sqrt({dot_sql(b, b)})"
    return f"round({d} / ({na} * {nb}), 6)"
