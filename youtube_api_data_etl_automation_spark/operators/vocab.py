"""Vocabulary-coverage / OOV-rate planning for tokenizer budgets.

Before training a tokenizer (operators/bpe.py) or fixing an embedding
table size, a pipeline needs the coverage curve: what fraction of the
corpus' token OCCURRENCES does a top-V type vocabulary cover, and what
OOV rate does the budget buy. The classic Zipf planning readout — each
candidate V maps to (covered occurrences, coverage, oov_rate), computed
from the corpus' (term → occurrences) relation.

Scale shape (100 TB): the corpus contributes ONE (term → occurrences)
aggregate (map-side combined; the token explode never shuffles raw text,
only (term, partial-count) rows). Everything after operates on the TYPE
table (|vocab| rows — millions, not the corpus' trillions): a TakeOrdered
keeps only the top max(vocab_sizes) types, the cumulative sum runs over
those ≤max(V) rows (bounded-row single-partition window, same sanctioned
shape as the profiler's top-k), and the per-V readout is a tiny
theta-join of that against the handful of requested sizes. The total
occurrence count folds from the same type relation — no second corpus
pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round6


def vocab_coverage_from_counts(
    term_counts: DataFrame,
    *,
    vocab_sizes: tuple[int, ...] = (1_000, 4_000, 16_000, 64_000),
    term_col: str = "term",
    count_col: str = "c",
) -> DataFrame:
    """Coverage curve from a precomputed ``(term, occurrences)`` relation
    (e.g. the TF relation a TF-IDF pass already built — no extra corpus
    scan). Deterministic under count ties (term tie-break). A V larger
    than the type inventory reports full coverage at ``n_types`` types —
    the signal that the budget is past the corpus' vocabulary."""
    if not vocab_sizes or any(v <= 0 for v in vocab_sizes):
        raise ValueError(f"vocab_sizes must be positive, got {vocab_sizes!r}")
    spark = term_counts.sparkSession
    max_v = max(vocab_sizes)
    counts = term_counts.select(
        F.col(term_col).alias("term"), F.col(count_col).cast("long").alias("c")
    )
    # Totals fold from the type relation (broadcast 1-row crossJoin — the
    # same totals idiom as operators/mixing.py; never a corpus re-scan).
    totals = counts.agg(
        F.sum("c").alias("total_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    # Only the top max(V) types matter for any requested size.
    top = counts.orderBy(F.desc("c"), "term").limit(max_v)
    # ≤ max(V) rows by construction: bounded-row single-partition window
    # (sanctioned — see operators/profile.py::top_values for the same
    # trade and why it beats re-executing the lineage).
    w = (
        Window.orderBy(F.desc("c"), "term")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = top.select(
        F.row_number().over(Window.orderBy(F.desc("c"), "term")).alias("rank"),
        F.sum("c").over(w).alias("cum"),
    )
    sizes = spark.createDataFrame(
        [(int(v),) for v in sorted(set(vocab_sizes))], "vocab_size long"
    )
    per_v = (
        cum.join(F.broadcast(sizes), F.col("rank") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.max("cum").alias("covered_tokens"))
    )
    return (
        sizes.join(per_v, "vocab_size", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "vocab_size",
            "n_types",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            "total_tokens",
            round6(
                F.coalesce("covered_tokens", F.lit(0))
                / F.nullif(F.col("total_tokens").cast("double"), F.lit(0.0))
            ).alias("coverage"),
            round6(
                1.0
                - F.coalesce("covered_tokens", F.lit(0))
                / F.nullif(F.col("total_tokens").cast("double"), F.lit(0.0))
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )
