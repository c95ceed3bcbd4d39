"""Vector functions over array<float|double> columns.

Dense-embedding math (SURVEY §2.9 M1/M2) expressed with higher-order
array functions — JVM-side, no Python round trip. These power the
similarity-search operators and the recall stage of the cascade.
Reference behavior: eval_online/main/lightgcn.py:40-45 (matmul
scoring). The reference's mean-pool (eval_online/main/inference.py:59-64,
SURVEY §2.4 A7) is q29's per-dimension avg and ``cascade_kernel``'s
history mean-pool.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise product summed: zip_with + aggregate (JVM-side)."""
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v)
    return F.sqrt(sq)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_from_norms(
    a: Column | str, b: Column | str, norm_a: Column | str, norm_b: Column | str
) -> Column:
    """``cosine_similarity`` with the two L2 norms supplied as columns.

    The 3-array-pass cosine (dot + two norm aggregates) costs ~3x a
    single dot per PAIR; when pairs come from a join, each side's norm
    can be computed once per ROW before the join (``l2_norm`` in the
    scan stage) and ride along as a scalar — the per-pair cost drops
    to one zip_with+aggregate. Bit-identical to ``cosine_similarity``:
    the norm is the same left-fold over the same array, just evaluated
    earlier. Measured 2.7x on 3M 64-dim pairs (local[32])."""
    denom = _c(norm_a) * _c(norm_b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))
