"""Document chunking: split long docs into overlapping token windows.

The op every context-window-bounded consumer needs (pretraining shards,
RAG indexing): cut each document's token stream into chunks of
``chunk_tokens`` with ``overlap`` tokens of context carried between
consecutive chunks, keeping provenance (doc_id, chunk_idx, token span).

Pure Column shape: tokens are projected ONCE (interpreted-lambda rule,
functions/text.py), chunk starts come from a sequence() stride, and the
explode fans out in-partition — no shuffle, no UDF, linear in corpus
size. Unlike sequence packing (operators/packing.py — many small docs →
one budgeted sequence), chunking is the opposite direction: one long doc
→ many bounded windows; pipelines run chunking then packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Explode each doc into (id, chunk_idx, start_token, n_tokens, chunk).

    Stride = chunk_tokens − overlap. Every token belongs to at least one
    chunk; consecutive chunks share exactly ``overlap`` tokens (fewer on
    the final, possibly-short chunk). Empty docs produce no chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    ts = F.col("__ck_toks")
    n = F.size(ts)
    # Chunk start positions (1-based): 1, 1+stride, … while start <= len
    # and the previous chunk didn't already cover the tail.
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    # Explicit empty guard: sequence(0, -1) is a DESCENDING sequence in
    # Spark, not empty — an unguarded empty doc would fan out ghost chunks.
    starts = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<bigint>")
    )
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride + 1).cast("int").alias("start_token"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("int").alias(
                "n_tokens"
            ),
            F.concat_ws(" ", F.slice(ts, i * stride + 1, chunk_tokens)).alias(
                "chunk"
            ),
        ),
    )
    return (
        df.select(F.col(id_col), F.expr(f"{tokens(text_col)} AS __ck_toks"))
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col, "c.chunk_idx", "c.start_token", "c.n_tokens", "c.chunk"
        )
    )
