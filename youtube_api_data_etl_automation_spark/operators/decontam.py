"""Benchmark decontamination: flag corpus docs sharing word n-grams with an
evaluation set.

Standard LLM-pretraining hygiene (GPT-3/PaLM-style n-gram overlap checks):
any training document that contains an n-gram also present in a held-out
benchmark is flagged (and usually dropped) so downstream evals aren't
contaminated. Real pipelines use 8–13-gram windows; the synthetic corpus'
tiny vocabulary makes 3-grams the scale-equivalent demo (TESTDATA.md).

Scale shape (100 TB corpus, fixed-size benchmark):
- benchmark n-grams come from a *filtered* scan (small by construction),
  are distinct-reduced, and broadcast — the corpus side never shuffles its
  n-grams;
- the only corpus shuffle is the per-doc hit aggregation, carrying
  (doc_id, n-gram) pairs for *matching* n-grams only;
- no persist: the benchmark branch re-scans only the benchmark slice, which
  is cheaper than materializing the exploded corpus n-gram relation.

When the benchmark-gram set itself outgrows a comfortable broadcast (many
benchmarks × 13-gram windows can reach 10^8-10^9 distinct grams — tens of
GB of strings), ``ngram_contamination(..., bloom_bits=, bloom_k=)``
switches phase 1 to a relational Bloom filter (:func:`bloom_bitset`):
the bit array lives as a ``(word_idx, bits)`` 64-bit-word relation
(``m/64`` longs ≈ 1.2-2 BYTES per gram at 1% FPR vs ~8-60 bytes for
hashes/strings), each corpus gram checks its k double-hashed probe
positions through k broadcast hash joins — zero corpus-side shuffle —
and survivors (true matches + ~FPR false positives) go through the exact
gram join, so the RESULT is bit-identical to exact mode; only the
traffic into the exact join shrinks. Pure Column arithmetic (xxhash64 +
pmod + shift/mask + bit_or aggregate): Spark's own BloomFilterAggregate
is optimizer-internal and not SQL-reachable, and this relational form
keeps the whole thing declarative and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def word_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int, *, unique: bool = False
) -> DataFrame:
    """Explode ``df`` into (id, g) word n-grams of the normalized text.

    Docs shorter than ``n`` tokens contribute no rows (inner explode) —
    mirrored by the oracle's ``range(1, greatest(len-n+1, 1))``.

    ``unique=True`` dedupes each doc's grams with array_distinct BEFORE the
    explode: a within-partition array op that replaces a post-explode
    two-phase COUNT DISTINCT — fewer exploded rows and no gram-keyed
    exchange (pinned by tests/test_scale_plans.py).

    The token array is projected to a real column BEFORE the transform()
    lambda references it: transform is interpreted, so an inline tokens()
    expression would re-normalize + re-split the text once per n-gram
    position (the word_shingles_t trap, functions/text.py — measured ~7×).
    """
    from ..functions.text import word_shingles_t

    grams = word_shingles_t(F.col("__ng_toks"), n)
    if unique:
        grams = F.array_distinct(grams)
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__ng_toks"))
        .select(F.col(id_col), F.explode(grams).alias("g"))
    )


def _bloom_probe(g: Column, i: int, m_bits: int) -> Column:
    """Probe position i of a standard double-hashing Bloom scheme:
    ``pos_i = (h1 + i*h2) mod m`` with h1/h2 two independent xxhash64
    views of the gram (h2 forced odd so the probe stride never collapses
    on an even-m cycle). Both hashes are reduced mod m BEFORE the
    combine: raw 64-bit ``h1 + i*h2`` overflows a long, which under the
    driver's ANSI mode is a job-killing ArithmeticException, not a wrap.
    Pure deterministic Column arithmetic — the same expression computes
    the build side and the query side, which is what makes the filter
    sound (a gram always probes the same positions)."""
    h1 = F.pmod(F.xxhash64(g), F.lit(m_bits))
    h2 = F.pmod(
        F.xxhash64(g, F.lit(0x9E3779B9)), F.lit(m_bits)
    ).bitwiseOR(F.lit(1))
    return F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))


def bloom_bitset(grams: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Build the Bloom bit array over ``grams.g`` as a relation of 64-bit
    words: ``(word_idx long, bits long)`` with ≤ m/64 rows, absent words
    ≡ all-zero. Distributed build: every (gram, probe) pair sets one bit,
    grouped by word via a ``bit_or`` aggregate — map-side combine reduces
    the exchange to ≤ m/64 rows per partition, and the result broadcasts
    at ~m/8 bytes total regardless of how many grams built it (the whole
    point of a Bloom at 10^9 grams)."""
    if m_bits < 64:
        raise ValueError(f"m_bits must be >= 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = grams.select(
        F.explode(
            F.array(*[_bloom_probe(F.col("g"), i, m_bits) for i in range(k)])
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            # F.shiftleft takes only a literal shift; the SQL form shifts
            # by an expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_might_contain(
    candidates: DataFrame, bitset: DataFrame, m_bits: int, k: int, g: str = "g"
) -> DataFrame:
    """Keep only candidate rows whose ``g`` passes every Bloom probe —
    k broadcast LEFT joins on word_idx (an absent word means the bit is
    0), each checking one probe's bit with mask arithmetic. No candidate
    row ever shuffles: the bitset relation broadcasts once and the
    candidates stream map-side through the k hash joins. False positives
    pass (by Bloom design — confirm against the exact set downstream);
    false negatives are impossible."""
    # One broadcast relation, referenced identically by every probe join
    # (same column aliases each round), so the k broadcast subtrees are
    # byte-identical and exchange reuse builds/ships the bitset ONCE.
    bs = bitset.select(
        F.col("word_idx").alias("__bw"), F.col("bits").alias("__bits")
    )
    out = candidates
    for i in range(k):
        probe = (
            out.withColumn("__bp", _bloom_probe(F.col(g), i, m_bits))
            .withColumn("__bw", (F.col("__bp") / 64).cast("long"))
            .withColumn(
                "__bm",
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__bp % 64 AS INT))"),
            )
        )
        out = (
            probe.join(F.broadcast(bs), "__bw", "left")
            .filter(
                F.coalesce(F.col("__bits"), F.lit(0)).bitwiseAND(F.col("__bm"))
                != 0
            )
            .drop("__bp", "__bw", "__bm", "__bits")
        )
    return out


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bloom_bits: int | None = None,
    bloom_k: int = 5,
) -> DataFrame:
    """Per-corpus-doc benchmark-overlap report.

    Returns (id_col, n_hit_ngrams, contaminated) for EVERY corpus doc —
    clean docs appear with 0/false so the result is a complete keep/drop
    verdict, joinable back onto the corpus by key.

    ``bloom_bits``/``bloom_k`` (module note): prefilter corpus grams
    through a relational Bloom filter built over the benchmark grams
    before the exact join. The OUTPUT is identical either way (the exact
    join still confirms every survivor; Bloom has no false negatives) —
    only the volume reaching the exact join changes. Size with the
    standard formulas: ``m ≈ -n·ln(p)/ln(2)²`` bits and ``k ≈ (m/n)·ln 2``
    for n grams at target FPR p (1% ⇒ ~9.6 bits/gram, k=7).
    """
    bench_grams = word_ngrams(benchmark, text_col, id_col, n).select("g").distinct()
    corpus_grams = word_ngrams(corpus, text_col, id_col, n, unique=True)
    if bloom_bits is not None:
        bitset = bloom_bitset(bench_grams, bloom_bits, bloom_k)
        corpus_grams = bloom_might_contain(
            corpus_grams, bitset, bloom_bits, bloom_k
        )
    # Corpus grams are per-doc-deduped at explode time (unique=True), so a
    # plain COUNT after the broadcast join IS the distinct-hit count — one
    # single-phase agg exchange carrying only matching (doc, gram) pairs.
    hits = (
        corpus_grams
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_ngrams", F.lit(0)).cast("long").alias("n_hit_ngrams"),
            # 0/1 bigint, not boolean: no driver-checked query had ever
            # emitted a boolean through the canonicalizer (the r1 tags-array
            # err taught that lesson about first-of-a-type columns).
            (F.coalesce("n_hit_ngrams", F.lit(0)) > 0)
            .cast("long")
            .alias("contaminated"),
        )
    )
