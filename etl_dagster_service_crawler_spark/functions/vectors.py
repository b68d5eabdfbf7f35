"""Vector column functions over array<float> embedding columns.

Expression-based (zip_with/aggregate fold) — stays JVM-side, no UDF.
The sequential fold matches DuckDB's list_sum ordering, so cosine
values are bit-identical across engines (verified empirically).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(norm2(a)) * F.sqrt(norm2(b)))

