"""Vector math over ``ARRAY<FLOAT>`` columns via higher-order functions.

All JVM-side (``zip_with`` / ``aggregate``) — no Python in the hot path.
Computations are done in DOUBLE regardless of storage type so results are
reproducible against an oracle and stable across accumulation orders at the
precision we compare at.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (computed in double).

    Length contract: ``zip_with`` null-pads the shorter array, so mismatched
    lengths yield NULL (null * x = null propagates through the sum) rather
    than a silent partial product. Callers that need a hard failure should
    pre-check ``F.size(a) == F.size(b)``.
    """
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def sq_l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance in double, rounded to 6 decimals — the rounding
    absorbs last-ulp accumulation differences, so argmins over it (IVF
    cell assignment, PQ sub-distances) replay exactly in the oracle."""
    diffs = F.zip_with(
        _c(a),
        _c(b),
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.round(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v), 6)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))
