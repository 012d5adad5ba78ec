"""Dense-vector math as pure Column expressions (SURVEY.md §2.7).

All of these run inside whole-stage codegen — no Python in the loop.
``aggregate`` folds left-to-right, which pins floating-point summation
order (important for oracle determinism).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """M3 — dot product of two ARRAY<DOUBLE> columns, left-to-right fold
    (reference ALSPredict.java:72-83 dotProduct loop)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_axpy(alpha: Column, x: Column | str, y: Column | str) -> Column:
    """alpha*x + y elementwise — the SGD update shape
    (reference SGD.java:188-207)."""
    return F.zip_with(_c(x), _c(y), lambda xi, yi: alpha * xi + yi)


def vec_l2(a: Column | str) -> Column:
    return F.sqrt(dot(_c(a), _c(a)))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two dense arrays."""
    return dot(a, b) / (vec_l2(a) * vec_l2(b))


def has_nan(a: Column | str) -> Column:
    """M9 — true if any element is NaN (reference SGDV0.java:206-226)."""
    return F.exists(_c(a), lambda x: F.isnan(x))


def elementwise_mean(df, factors_col: str = "factors"):
    """A1/M10 — elementwise mean over a DataFrame of equal-length arrays
    (reference ALSMeanVector.scala:30-35 zip-add reduce then divide).

    Spark-first: posexplode → groupBy(pos).avg → re-assemble. The shuffle
    is k·|groups| rows (tiny); the explode is map-side. Returns a 1-row
    DataFrame with `factors ARRAY<DOUBLE>`.
    """
    exploded = df.select(F.posexplode(F.col(factors_col)).alias("pos", "v"))
    means = exploded.groupBy("pos").agg(F.avg("v").alias("m"))
    return means.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "m"))
        ).alias("pairs")
    ).select(F.transform("pairs", lambda p: p.getField("m")).alias("factors"))
