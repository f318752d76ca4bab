"""Vector expressions over ``array<float|double>`` columns.

All built from Spark higher-order functions (``zip_with`` /
``transform`` / ``aggregate``) — evaluated JVM-side inside codegen, no
Python in the loop.  This is the built-in-operator path the task brief
prefers over Pandas UDFs for embedding math; a vectorized Pandas-UDF
variant only becomes worthwhile when BLAS batching dominates (very high
dimensions), not at d=64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (double accumulation)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array column."""
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )

