"""Cross-engine-stable rounding.

Spark's ROUND uses the shortest-decimal representation (BigDecimal.valueOf)
while DuckDB scales-and-rounds the raw double, so the two disagree on
.5-boundary doubles (observed: 0.5113125 → 0.511313 vs 0.511312). For
oracle-checked query edges we therefore round with a pure-double formula —
floor(x·1e6 + 0.5)/1e6 — which both engines evaluate bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round6(col: Column) -> Column:
    """Round half-up to 6 decimals via double ops only (engine-portable)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def sql_round6(expr: str) -> str:
    """DuckDB mirror of :func:`round6`."""
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


def spark_round6(expr: str) -> str:
    """Spark-SQL text of :func:`round6` (D-suffixed literals: a bare
    ``1000000.0`` parses as DECIMAL and changes the arithmetic)."""
    return f"floor(({expr}) * 1000000.0D + 0.5D) / 1000000.0D"
