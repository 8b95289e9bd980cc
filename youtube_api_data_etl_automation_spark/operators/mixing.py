"""Temperature-based source mixing: size^alpha sampling rates per source.

The multi-source corpus recipe (T5/multilingual-LM style): sampling a
source proportionally to size^alpha (0 < alpha < 1) upweights small
sources and damps giant ones; alpha=1 is natural proportions, alpha=0 is
uniform. This operator computes the per-source keep/repeat rates that
realize a target output size, then applies them deterministically.

Scale shape: stage 1 is a tiny per-source count aggregate (one map-side-
combined shuffle); stage 2 broadcasts the rate table and applies a
content-stable md5-bucket filter (same idiom as train_val_split /
stratified_sample_docs — a doc's fate never changes under repartitioning
or corpus growth) plus an integer repeat-explode for rates > 1 (epoch
upweighting). No driver loop; the rate table is collected (O(#sources))
as a sanctioned control-plane decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket

# NULL sources form their own stratum under this sentinel (groupBy keeps
# NULL as a group, but an equi-join would silently drop those rows — the
# two stages must agree on one normalized key).
_NULL_SOURCE = "__null_source__"


def _norm_source(source_col: str):
    return F.coalesce(F.col(source_col).cast("string"), F.lit(_NULL_SOURCE))


def mixture_rates_sqrt(
    df: DataFrame, source_col: str, target_rows: int, weight_scale: int = 10**6
) -> DataFrame:
    """Alpha=0.5 mixture rates with engine-portable exactness: per-source
    rate so expected output ≈ target_rows with p(source) ∝ sqrt(n_source).
    Returns (source, n_rows, rate); rate may exceed 1 (repeat small
    sources). NULL sources count as one stratum (sentinel key) rather
    than silently vanishing from the mix.

    ``pow(n, alpha)`` is only faithfully-rounded, so two engines' libm can
    disagree in the last bit and a summed total weight diverges; sqrt is
    CORRECTLY rounded by IEEE 754 on every engine. Each source's weight is
    quantized to an integer (floor(sqrt(n)·scale + 0.5)), the total weight
    is then an exact bigint sum (order-independent), and the rate is a
    double derived from exact integers via a fixed operation order
    (target·w / tw / n) — bit-identical on any IEEE engine, which is what
    lets a DuckDB oracle reproduce the fractional-draw boundary exactly."""
    counts = df.groupBy(_norm_source(source_col).alias(source_col)).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = F.floor(
        F.sqrt(F.col("n_rows").cast("double")) * F.lit(float(weight_scale))
        + F.lit(0.5)
    ).cast("long")
    counts = counts.withColumn("w", w)
    total_w = counts.agg(F.sum("w").alias("tw"))
    return counts.crossJoin(F.broadcast(total_w)).select(
        source_col,
        "n_rows",
        (
            F.lit(float(target_rows))
            * F.col("w")
            / F.col("tw")
            / F.col("n_rows")
        ).alias("rate"),
    )


def apply_mixture(
    df: DataFrame,
    rates: DataFrame,
    *,
    source_col: str,
    id_col: str,
) -> DataFrame:
    """Materialize the mix deterministically: each row repeats
    floor(rate) times, plus one more iff its SALTED md5 bucket <
    frac(rate)·256 (content-stable fractional sampling). Output adds
    ``copy_idx``.

    The bucket salt ("mix") is load-bearing: stratified sampling and the
    train/val split draw from the UNSALTED bucket, and reusing it here
    would perfectly correlate the draws when the ops compose (every
    stratified survivor would win every fractional draw with rate ≥ its
    stratum threshold — see functions/hashing.py). NULL ids hash via the
    same sentinelled cast, so no row silently drops."""
    rates_n = rates.select(
        _norm_source(source_col).alias("__mix_src"), "rate"
    )
    joined = df.join(
        F.broadcast(rates_n), _norm_source(source_col) == F.col("__mix_src")
    ).drop("__mix_src")
    whole = F.floor("rate").cast("int")
    frac = F.col("rate") - whole
    bucket = F.expr(md5_bucket(
        f"coalesce(CAST({id_col} AS STRING), '__null_id__')", salt="mix"))
    extra = (bucket < frac * 256).cast("int")
    n_copies = (whole + extra).alias("n_copies")
    return (
        joined.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(1), F.col("n_copies")))
        )
        .drop("rate", "n_copies")
    )
