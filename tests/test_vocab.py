"""Vocabulary-coverage planning (operators/vocab.py): hand-computed
coverage curve, tie determinism, past-inventory budgets, and the
from-counts/full-scan agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from youtube_api_data_etl_automation_spark.operators.vocab import (
    vocab_coverage_from_counts,
)


def test_coverage_curve_hand_computed(spark):
    # occurrences: a×6, b×3, c×1 → total 10, 3 types
    counts = spark.createDataFrame([("a", 6), ("b", 3), ("c", 1)],
                                   "term string, c long")
    out = {r["vocab_size"]: r for r in
           vocab_coverage_from_counts(counts, vocab_sizes=(1, 2, 5)).collect()}
    assert out[1]["covered_tokens"] == 6 and out[1]["coverage"] == 0.6
    assert out[2]["covered_tokens"] == 9 and out[2]["coverage"] == 0.9
    # budget past the inventory: full coverage, n_types says why
    assert out[5]["covered_tokens"] == 10 and out[5]["coverage"] == 1.0
    assert all(r["n_types"] == 3 and r["total_tokens"] == 10
               for r in out.values())
    assert out[2]["oov_rate"] == pytest.approx(0.1)


def test_tie_break_is_term_order(spark):
    # equal counts: 'x' and 'y' both ×2 — rank 1 must be 'x' (term asc)
    counts = spark.createDataFrame([("y", 2), ("x", 2), ("z", 1)], "term string, c long")
    out = {r["vocab_size"]: r for r in
           vocab_coverage_from_counts(counts, vocab_sizes=(1, 2)).collect()}
    assert out[1]["covered_tokens"] == 2
    assert out[2]["covered_tokens"] == 4
    # determinism under repartition
    again = {r["vocab_size"]: r["covered_tokens"] for r in
             vocab_coverage_from_counts(
                 counts.repartition(5), vocab_sizes=(1, 2)).collect()}
    assert again == {1: 2, 2: 4}


def test_from_counts_matches_full_scan(spark):
    """Counts folded from the documents' tokens give the coverage a
    Python count over the same text gives."""
    from collections import Counter

    texts = [("w%d " % (i % 7)) * (i % 5 + 1) for i in range(40)]
    docs = spark.createDataFrame([Row(text=t) for t in texts])
    occ = Counter(w for t in texts for w in t.split())
    ranked = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(occ.values())
    full = {v: sum(c for _, c in ranked[:v]) for v in (2, 4, 8)}
    from youtube_api_data_etl_automation_spark.functions.text import tokens
    from pyspark.sql import functions as F

    counts = (
        docs.select(F.explode_outer(F.expr(tokens("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    )
    pre = {r["vocab_size"]: r for r in vocab_coverage_from_counts(
        counts, vocab_sizes=(2, 4, 8)).collect()}
    assert {v: r["covered_tokens"] for v, r in pre.items()} == full
    for v, r in pre.items():
        assert r["total_tokens"] == total
        assert r["coverage"] == pytest.approx(full[v] / total, abs=1e-6)


def test_invalid_sizes_raise(spark):
    counts = spark.createDataFrame([("a", 1)], "term string, c long")
    with pytest.raises(ValueError):
        vocab_coverage_from_counts(counts, vocab_sizes=())
    with pytest.raises(ValueError):
        vocab_coverage_from_counts(counts, vocab_sizes=(0, 4))
