"""Vector math over ``array<float>`` embedding columns — pure Column exprs.

Built on higher-order functions (zip_with / aggregate) so the arithmetic runs
JVM-side per row with no shuffle and no Python. Elements are widened to
double *before* multiplication so accumulation is a deterministic left fold
over doubles — the same sequence DuckDB's list functions use, which keeps the
oracle comparison stable (results are additionally rounded at query edges).

Used by operators/similarity.py for brute-force and LSH-bucketed ANN.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import spark_round6
from .text import sql_ident


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def lit_double_array(values) -> Column:
    """Literal ``array<double>`` in ONE py4j round-trip.

    ``F.array(*[F.lit(v) for v in values])`` costs one driver↔JVM
    round-trip per element — a d=64 centroid literal built per
    (subspace, centroid) pair turns codebook plans into tens of
    thousands of round-trips, pure plan-construction latency (guide
    §7.3: avoid generating gigantic expression trees element-wise).
    ``F.lit(ndarray)`` is no better: py4j's array converter still
    round-trips per element (measured: −19%, not −95%). One
    ``F.expr("array(…D, …)")`` string IS one round-trip; the JVM
    parses the doubles with correctly-rounded Double.parseDouble, so
    Python ``repr`` shortest-decimal literals round-trip bit-exactly
    (verified against element-wise F.lit on subnormals, −0.0 and
    DBL_MAX; the pq/ann oracle rows pin the downstream arithmetic).
    Non-finite values fall back to the element-wise form (no SQL
    literal spells NaN/Inf)."""
    vals = [float(v) for v in values]
    if all(math.isfinite(v) for v in vals):
        return F.expr(sql_double_array(vals))
    return F.array(*[F.lit(v) for v in vals])


def sql_cosine6(a: str, b: str) -> str:
    """Spark-SQL text of ``round6(cosine_similarity(a, b))`` over two
    named array columns — the expression-for-expression twin of the
    Column form (same transform-cast, same left folds, same nullif and
    round6 grid), built as ONE parseable string because each Column
    higher-order function costs ~13 driver round-trips of lambda
    construction (guide §7.3). The ann/ivf/semantic oracle rows pin the
    values."""

    def vd(n: str) -> str:
        return f"transform({sql_ident(n)}, x -> CAST(x AS DOUBLE))"

    dot = (f"aggregate(zip_with({vd(a)}, {vd(b)}, (x, y) -> x * y), "
           "0.0D, (acc, v) -> acc + v)")
    na = f"sqrt(aggregate({vd(a)}, 0.0D, (acc, v) -> acc + v * v))"
    nb = f"sqrt(aggregate({vd(b)}, 0.0D, (acc, v) -> acc + v * v))"
    return spark_round6(f"({dot}) / nullif({na} * {nb}, 0.0D)")


def sql_double_array(values) -> str:
    """``array(…D, …)`` SQL text for a finite double list — the string
    form of :func:`lit_double_array`, for callers assembling a larger
    single ``F.expr`` (each higher-order Column function costs ~13
    driver round-trips to build its lambdas; one parsed SQL string
    costs one). Raises on non-finite values (no SQL literal spells
    NaN/Inf — use the Column form's fallback)."""
    return "array(" + ",".join(sql_double(v) for v in values) + ")"


def sql_double(value: float) -> str:
    """A Spark SQL DOUBLE literal (``…D``): the JVM parses Python's
    shortest round-trip ``repr`` back to the same bits, where a bare
    ``0.5`` would parse as DECIMAL. Raises on non-finite values (no SQL
    literal spells NaN/Inf)."""
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"sql_double: non-finite value {v}")
    return f"{v!r}D"


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_product(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_as_double(_c(a)), _as_double(_c(b)), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.aggregate(
        _as_double(_c(a)), F.lit(0.0), lambda acc, v: acc + v * v
    )
    return F.sqrt(sq)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b); NULL when either norm is 0 (degenerate vector)."""
    denom = F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))
    return dot_product(a, b) / denom


# ---------------------------------------------------------------------------
# int8 quantization (storage/serving-scale path)
# ---------------------------------------------------------------------------
# At 1e9+ vectors the float32 corpus dominates storage and shuffle width;
# symmetric per-vector int8 quantization cuts both 4× with bounded cosine
# error (error bound pinned in tests/test_vectors_quant.py). Pure Column
# transforms — quantize on write, dequantize (or score int8-native) on read.


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8: q_i = round(127 · v_i / max|v|).

    Returns struct(scale float, q array<tinyint>); zero vectors get
    scale 0 and all-zero codes (dequantizes to the zero vector).

    The amax fold is evaluated ONCE and bound as a lambda variable by
    wrapping it in a 1-element transform(): higher-order lambdas are
    interpreted with no CSE, so referencing the O(d) aggregate directly
    inside the per-element lambda would re-run it per element — O(d²)
    per vector (the tokens()/word_ngrams projection rule, applied at the
    expression level where there's no column to project to)."""
    # nanvl: a single NaN element would otherwise poison amax (Spark
    # orders NaN greater than every number, so the m > 0 guard takes the
    # quantize branch and NaN.cast(tinyint) kills the whole job under
    # ANSI — r6 review). NaN quantizes as 0, like a missing measurement.
    arr = F.transform(_as_double(_c(a)), lambda v: F.nanvl(v, F.lit(0.0)))
    amax = F.aggregate(arr, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))

    def build(m: Column) -> Column:
        scale = F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(0.0))
        # F.round at INTEGER scale is engine-portable, unlike the scale-6
        # rounding functions/rounding.py exists for: X.5 is exactly
        # representable in double for |X| < 2^52, and a shortest-decimal
        # representation always lies on the same side of any representable
        # value as the double it round-trips to — so BigDecimal HALF_UP on
        # the shortest repr (Spark) and round-half-away on the raw double
        # (DuckDB) agree at scale 0. (The scale-6 divergence arises only
        # because 0.0000005-grid points are NOT representable.)
        q = F.transform(
            arr,
            lambda v: F.when(m > 0, F.round(v * F.lit(127.0) / m))
            .otherwise(F.lit(0.0))
            .cast("tinyint"),
        )
        return F.struct(scale.cast("float").alias("scale"), q.alias("q"))

    return F.element_at(F.transform(F.array(amax), build), 1)


def dequantize_int8(qs: Column | str) -> Column:
    """Inverse of quantize_int8: v_i ≈ scale · q_i (array<double>)."""
    s = _c(qs)
    return F.transform(
        s.getField("q"), lambda v: v.cast("double") * s.getField("scale").cast("double")
    )
