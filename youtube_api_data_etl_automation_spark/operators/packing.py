"""Sequence packing: assemble filtered documents into fixed token-budget
training sequences (the dataset-assembly step that follows dedup + quality
filtering in an LLM data pipeline).

This is concat-and-cut packing — the GPT-style scheme where the document
stream is concatenated and cut every ``budget`` tokens, so every sequence
except each shard's tail is EXACTLY full and a document may straddle a cut
(the downstream loader splits it; ``bin_first``/``bin_last`` say where).
True greedy first-fit (no doc ever split, bins underfull instead) is
inherently sequential per bin; concat-and-cut is the form that's both what
large pretraining pipelines actually run and expressible as ONE window
pass.

Spark-first shape — NO driver loop, NO UDF:
- docs are ordered deterministically (salted hash of the id): packing is
  reproducible, and long/short docs interleave instead of clustering;
- a per-shard running token cumsum (window function) gives each doc its
  token interval [token_start, token_end]; integer-dividing by the budget
  yields the sequence ids it occupies;
- sharding bounds the sort: each shard packs independently (shuffle on
  shard id, per-shard sort — never a global sort). Sequences never span
  shards; the per-shard tail sequence is the only underfull one, so waste
  is < budget tokens per shard — size shards to thousands of sequences
  and the waste fraction is negligible at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_sequences(docs: DataFrame, token_col: str = "n_tokens",
                   id_col: str = "doc_id", budget: int = 2048,
                   n_shards: int = 64,
                   shard_expr: Column | None = None,
                   order_expr: Column | None = None) -> DataFrame:
    """Assign each doc its packed location. Output: input columns +
    ``shard``, ``token_start`` (offset in the shard's concatenated token
    stream), ``bin_first``/``bin_last`` (sequence ids the doc occupies —
    equal unless the doc straddles a cut), ``spans_cut``.

    ``shard_expr``/``order_expr`` override the default xxhash64-derived
    shard and within-shard ordering — e.g. md5-based expressions when the
    packing must be reproducible on an engine without xxhash64 (the
    driver-oracle row in plans/curation.py). The defaults stay xxhash64:
    cheaper, and fine whenever cross-engine mirroring isn't needed."""
    shard = shard_expr if shard_expr is not None else (
        F.abs(F.xxhash64(F.col(id_col).cast("string"), F.lit("pack"))) % n_shards
    ).cast("int")
    order = order_expr if order_expr is not None else F.xxhash64(
        F.col(id_col).cast("string"), F.lit("order")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(order, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    return (
        docs.withColumn("shard", shard)
        .withColumn("_cum", cum)
        .withColumn("token_start", (F.col("_cum") - F.col(token_col)).cast("long"))
        .withColumn("bin_first", F.floor(F.col("token_start") / F.lit(budget)).cast("int"))
        .withColumn(
            "bin_last", F.floor((F.col("_cum") - F.lit(1)) / F.lit(budget)).cast("int")
        )
        .withColumn("spans_cut", F.col("bin_last") > F.col("bin_first"))
        .drop("_cum")
    )
