"""Vector math over ``ArrayType`` columns, as Catalyst expressions.

The reference does this math in NumPy inside a mapPartitions closure
(mean-subtract README.md:159, argmax README.md:174). Expressed as
``zip_with``/``aggregate`` these run inside codegen —
no Python worker, no Arrow transfer — which is the right hot path for
per-row vector ops at 100 TB. Batch model *inference* still uses the
pandas-UDF path (operators.scoring) because matrix-matrix products need
BLAS, but pairwise dot/cosine for similarity search does not.

All arithmetic is done in double precision (arrays cast to
``array<double>`` first) with a strict left-to-right fold, so results are
deterministic per row and reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two array columns, in double."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a, b) = a·b / (|a| |b|); NaN-free for zero vectors (returns 0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)
