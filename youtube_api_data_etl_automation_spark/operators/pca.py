"""Distributed PCA sufficient statistics over an embedding column.

PCA needs only the d-vector of per-dimension sums and the d×d
second-moment (Gram) matrix Σ xxᵀ. Both are one pass over the data with
an O(d²) result, tiny for embedding dims (64 here ⇒ 4096 doubles); the
eigendecomposition of that matrix is O(d²) driver numpy.
:func:`second_moments` is the relational path: per-row outer products
via nested ``transform`` (pure codegen, no join), exploded to
(pos, value), each summand snapped to the 6-decimal grid and summed as
DECIMAL(18,6) — bit-identical under any partitioning/retry AND across
engines (the DuckDB oracle replays it).

Reference: SURVEY.md §7 north-star (similarity-search support op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def second_moments(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Uncentered sufficient statistics as a relation: ``(pos, s)`` where
    pos in [0, d) is the per-dimension SUM Σx_i (the mean numerator) and
    pos in [d, d + d²) flattens the second-moment matrix Σ x_i·x_j at
    ``d + i*d + j``. NULL vectors are skipped; callers get n from a plain
    count.

    Each summand is first snapped to the exact 6-decimal grid (round6)
    and summed as DECIMAL(18,6). A wider decimal cast could not be
    mirrored cross-engine — Spark converts a double to decimal through
    its shortest string representation while DuckDB expands the binary
    value, so their low digits differ on every non-grid value.
    Pre-snapped values are exactly representable in both engines, so the
    sums are bit-identical and order-independent — the same
    decimal-exact-sum idiom as the repo's monetary aggregates."""
    from ..functions.rounding import round6

    v = F.transform(F.col(col), lambda x: x.cast("double"))
    outer = F.flatten(
        F.transform(v, lambda xi: F.transform(v, lambda xj: xi * xj))
    )
    both = F.concat(v, outer)  # d sums then d*d products
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.posexplode(both).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(round6(F.col("x")).cast("decimal(18,6)")).alias("s"))
    )
