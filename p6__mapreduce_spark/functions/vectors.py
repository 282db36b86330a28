"""Vector expressions over array<float|double> embedding columns.

``zip_with`` + ``aggregate`` keep the arithmetic in the JVM (no Python,
no UDF): the scan stays columnar and the only shuffle is whatever the
caller's join/topk needs. They are not code-generated: Spark evaluates
these higher-order functions interpreted (``CodegenFallback``), per row
and per element, so their cost grows with rows × dimensions. All math
is done in float64 after an explicit cast so results are
bit-reproducible against the DuckDB oracle (``list_inner_product(a::DOUBLE[], b::DOUBLE[])``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Oracle: ``list_inner_product(a::DOUBLE[], b::DOUBLE[])``."""
    pair = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(pair, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.aggregate(
        F.transform(_as_double_array(a), lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.sqrt(sq)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|); 0-norm inputs yield NULL (division by zero)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
