"""Distributed PCA sufficient statistics over an embedding column.

PCA needs only the d-vector of per-dimension sums and the d×d
second-moment (Gram) matrix Σ xxᵀ. Both are one pass over the data with
an O(d²) result, tiny for embedding dims (64 here ⇒ 4096 doubles); the
eigendecomposition of that matrix is O(d²) driver numpy.
:func:`second_moments` is the EXACT relational path: per-row outer
products via nested ``transform`` (pure codegen, no join), exploded to
(pos, value) and summed as DECIMAL(38,30) so the total is bit-identical
under any partitioning/retry. (Cross-ENGINE identity needs the ``grid6``
fixture mode instead — see its docstring: Spark and DuckDB convert
double→decimal differently at digit 30.)

Reference: SURVEY.md §7 north-star (similarity-search support op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Exact-sum cast for the relational path: float32 inputs make every
# pairwise double product exact; DECIMAL(38,30) keeps 30 fractional
# digits (enough for products of normal-range f32 embedding components),
# making the cross-partition sum order-independent. It is NOT
# cross-engine mirrorable (Spark converts double→decimal via the
# shortest string repr, DuckDB via the binary expansion) — the grid6
# mode exists for that.
_MOMENT_DECIMAL = "decimal(38,30)"


def _dim(df: DataFrame, col: str) -> int:
    first = df.select(F.size(F.col(col)).alias("d")).limit(1).collect()
    if not first:
        raise ValueError("cannot infer embedding dim from an empty relation")
    return int(first[0]["d"])


def second_moments(
    df: DataFrame,
    col: str = "embedding",
    dim: int | None = None,
    *,
    grid6: bool = False,
) -> DataFrame:
    """EXACT uncentered sufficient statistics as a relation:
    ``(pos, s)`` where pos in [0, d) is the per-dimension SUM Σx_i (the
    mean numerator) and pos in [d, d + d²) flattens the second-moment
    matrix Σ x_i·x_j at ``d + i*d + j``. Decimal-summed (see module
    note) — deterministic under repartition. NULL vectors are skipped;
    callers get n from a plain count.

    ``grid6=True`` is the ORACLE-FIXTURE mode: each summand is first
    snapped to the exact 6-decimal grid (round6) and summed as
    DECIMAL(18,6), because the default decimal(38,30) cast cannot be
    mirrored cross-engine — Spark converts a double to decimal through
    its shortest string representation while DuckDB expands the binary
    value, so their digit-30 truncations differ on EVERY non-grid value.
    Pre-snapped values are exactly representable in both engines, so the
    grid6 sums are bit-identical — the same decimal-exact-sum idiom as
    the repo's monetary aggregates. The fit keeps the full-precision
    default."""
    from ..functions.rounding import round6

    d = dim if dim is not None else _dim(df, col)
    v = F.transform(F.col(col), lambda x: x.cast("double"))
    outer = F.flatten(
        F.transform(v, lambda xi: F.transform(v, lambda xj: xi * xj))
    )
    both = F.concat(v, outer)  # d sums then d*d products
    x = F.col("x")
    summand = (
        round6(x).cast("decimal(18,6)") if grid6 else x.cast(_MOMENT_DECIMAL)
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.posexplode(both).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(summand).alias("s"))
    )
