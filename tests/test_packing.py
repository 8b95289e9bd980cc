"""Concat-and-cut sequence packing: invariants + differential check
against a straightforward Python re-pack of the same order."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.functions.text import tokens
from youtube_api_data_etl_automation_spark.operators.packing import (
    pack_sequences,
)
from youtube_api_data_etl_automation_spark.sources.tables import load_table

from .conftest import SF_DIR

BUDGET = 256
SHARDS = 8


def _packed(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.expr(tokens("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, budget=BUDGET, n_shards=SHARDS)


def test_packing_matches_python_reference(spark):
    packed = _packed(spark).collect()
    # Re-pack each shard in Python from the emitted deterministic order.
    by_shard = {}
    for r in sorted(packed, key=lambda r: (r.shard, r.token_start)):
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        cum = 0
        for r in rows:
            assert r.token_start == cum, (shard, r)
            assert r.bin_first == cum // BUDGET
            assert r.bin_last == (cum + r.n_tokens - 1) // BUDGET
            assert r.spans_cut == (r.bin_first != r.bin_last)
            cum += r.n_tokens


def test_packing_is_deterministic_across_partitionings(spark):
    a = {(r.doc_id): (r.shard, r.token_start) for r in _packed(spark).collect()}
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.expr(tokens("text"))).cast("long").alias("n_tokens")
    ).repartition(7)
    b = {
        (r.doc_id): (r.shard, r.token_start)
        for r in pack_sequences(docs, budget=BUDGET, n_shards=SHARDS).collect()
    }
    assert a == b
