"""Repeated-substring span detection (exact-substring dedup family).

The reference ETL captures documents but never inspects their internals
(fetch_youtube_data.py:123-133 stores title/description verbatim); a
training-data pipeline must additionally find *verbatim repeated text* —
boilerplate headers, licence blocks, templated spam — which survives
doc-level near-dup filters because the surrounding document differs. This
operator finds, for every document, the maximal token spans whose k-token
windows occur more than once in the corpus (the Spark-native restatement of
suffix-array exact-substring dedup: every repeated substring of length ≥ k
is a union of overlapping repeated k-grams, so flagging duplicated k-gram
starts and merging overlapping windows recovers exactly the maximal
repeated spans of length ≥ k).

Scale shape (100 TB):
- tokens are projected once per doc; the k-gram relation carries
  (doc_id, pos, md5-hash) — raw text NEVER shuffles;
- duplicated grams come from a partial-aggregated groupBy on the gram hash
  (map-side combine first, so per-partition repeats collapse before the
  exchange), then an equi-join back on the same hash;
- span assembly is a per-document window (gaps-and-islands), partitioned
  by doc_id — no cross-doc state;
- unlike pairwise dedup there is NO pair generation anywhere: a gram
  occurring m times contributes m rows, not m², so boilerplate cannot
  go quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles_t


def kgram_occurrences(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 8) -> DataFrame:
    """(id, pos, gram_hash) for every k-token window. pos is 1-based (the
    window covers tokens [pos, pos+k-1] of the normalized token stream).
    The hash is the full md5 hex of the space-joined window — engine-
    portable (DuckDB reproduces it verbatim) and long enough that
    collisions are ignorable at corpus scale."""
    toks = docs.select(F.col(id_col), tokens(text_col).alias("tok"))
    grams = toks.select(
        id_col, F.posexplode(word_shingles_t("tok", k)).alias("pos0", "gram")
    )
    return grams.select(
        id_col,
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.md5("gram").alias("gram_hash"),
    )


def duplicated_spans(docs: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8,
                     min_occurrences: int = 2) -> DataFrame:
    """Maximal repeated token spans per document.

    A k-gram is *duplicated* when it occurs ≥ min_occurrences times in the
    whole corpus (within-doc repeats count: self-repetition is exactly the
    Gopher repetition pathology). Overlapping/adjacent duplicated windows
    (start-position gap ≤ k) merge into one span; output is one row per
    maximal span: (id, span_start, span_end, span_tokens).
    """
    occ = kgram_occurrences(docs, id_col=id_col, text_col=text_col, k=k)
    # Feeds both the df-count aggregate and the join back. localCheckpoint,
    # not persist (r6): the cached handle was never exposed, so a
    # long-lived session leaked one pinned (doc_id, pos, hash) relation
    # per call with no release short of a blanket clearCache; the
    # checkpoint materializes once, is reclaimed automatically when
    # unreferenced, and serves both consumers identically.
    occ = occ.localCheckpoint()
    dup = (
        occ.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
        .select("gram_hash")
    )
    # Equi-join on the gram hash: positions of duplicated grams only. Both
    # sides are already keyed by gram_hash, so AQE plans this off the same
    # exchange footprint; rows are (id, pos) after the projection.
    pos = occ.join(dup, "gram_hash").select(id_col, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    # Island break: first row's lag is NULL → NULL comparison → otherwise(1).
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
        F.lit(1)
    )
    islands = pos.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w)
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def repeated_span_profile(docs: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 8,
                          min_occurrences: int = 2) -> DataFrame:
    """Per-document rollup of duplicated_spans — the curation signal a
    filter rule consumes: (id, n_spans, dup_tokens, max_span_tokens).
    Only documents containing at least one repeated span appear."""
    spans = duplicated_spans(
        docs, id_col=id_col, text_col=text_col, k=k,
        min_occurrences=min_occurrences,
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.max("span_tokens").cast("int").alias("max_span_tokens"),
    )
