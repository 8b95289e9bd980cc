"""N-gram language-model scoring — the perplexity quality filter.

Standard corpus curation (CCNet-style) scores every document with a small
language model trained on a trusted reference corpus and drops the
high-perplexity tail (gibberish, boilerplate soup, wrong-language text).
This module is that filter as exact DataFrame algebra: an add-k-smoothed
bigram LM trained corpus-distributed, and a scoring pass that joins each
document's bigrams against the model.

Scale shape:
- training = two partial-aggregated counts (bigram, unigram) — the
  exchanges carry (gram, partial_count), never text;
- scoring = one equi-join of the corpus' exploded bigrams against the LM
  relation, then a per-doc mean — at 100 TB the LM table is pruned to its
  top-M rows and BROADCAST, making scoring map-side (the join key is the
  bigram either way; plan shape is unchanged);
- OOV handling is exact two-level backoff: unseen bigram with seen
  history → add-k mass ln(k / (c_a + k·V)); unseen history → uniform
  ln(1/V). All doubles flow through one fixed expression order so scores
  are engine-deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .bpe import adjacent_pairs_t


def _tok_bigrams(docs: DataFrame, id_col: str, text_col: str,
                 tok_col: str | None = None) -> DataFrame:
    """``tok_col``: reuse an already-projected token array instead of
    re-tokenizing — higher-order lambdas are interpreted and not CSE'd
    (functions/text.py::tokens perf note), so callers that already carry a
    token column should pass it."""
    if tok_col is not None:
        toks = docs.select(F.col(id_col), F.col(tok_col).alias("tok"))
    else:
        toks = docs.select(F.col(id_col), tokens(text_col).alias("tok"))
    return toks.select(
        id_col, F.explode(adjacent_pairs_t("tok")).alias("p")
    ).select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def train_bigram_lm(ref_docs: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", k: float = 0.5,
                    tok_col: str | None = None) -> dict:
    """Train the smoothed bigram LM on a reference corpus. Returns
    {"bigrams": DF(a, b, c_ab, logp), "unigrams": DF(a, c_a),
    "v": vocab_size, "k": k} — the pieces score_docs needs. logp(b|a) =
    ln((c_ab + k) / (c_a + k·V)). ``tok_col`` reuses a pre-projected
    token array for BOTH count passes (see _tok_bigrams)."""
    bg = _tok_bigrams(ref_docs, id_col, text_col, tok_col)
    c_ab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni_tok = (
        F.col(tok_col) if tok_col is not None else tokens(text_col)
    )
    uni = (
        ref_docs.select(F.explode(uni_tok).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    v = uni.count()  # O(1) driver scalar (vocab size), like TF-IDF's N
    bigrams = (
        c_ab.join(uni, "a")
        .select(
            "a",
            "b",
            "c_ab",
            F.log(
                (F.col("c_ab") + F.lit(k)) / (F.col("c_a") + F.lit(k * v))
            ).alias("logp"),
        )
    )
    return {"bigrams": bigrams, "unigrams": uni, "v": v, "k": k}


def score_docs(docs: DataFrame, lm: dict, *, text_col: str = "text",
               id_col: str = "doc_id", tok_col: str | None = None) -> DataFrame:
    """Per-document mean bigram log-probability and perplexity under the
    LM. Documents with <2 tokens produce NO output row (no bigram
    evidence — the pair explode is inner); callers needing the complete
    corpus shape should LEFT-join the scores back onto their doc
    relation. ``tok_col`` reuses a pre-projected token array
    (see _tok_bigrams). Output: (id, n_bigrams, avg_logp, ppl)."""
    k, v = lm["k"], lm["v"]
    bg = _tok_bigrams(docs, id_col, text_col, tok_col)
    scored = (
        bg.join(lm["bigrams"], ["a", "b"], "left")
        .join(lm["unigrams"], "a", "left")
        .select(
            id_col,
            F.coalesce(
                F.col("logp"),
                # seen history, unseen continuation: add-k mass
                F.log(F.lit(k) / (F.col("c_a") + F.lit(k * v))),
                # unseen history: uniform over the vocab
                F.lit(math.log(1.0 / max(v, 1))),
            ).alias("lp"),
        )
    )
    # Decimal-exact mean: per-term log-probs are quantized to 1e-12 and
    # summed exactly, so the result is independent of partition/accumulation
    # order AND of last-ulp ln() differences between engines — the same
    # discipline as every cross-row double aggregate in this repo.
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.sum(F.col("lp").cast("decimal(20,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_logp"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "avg_logp",
        F.exp(-F.col("avg_logp")).alias("ppl"),
    )


def perplexity_buckets(scored: DataFrame, *, group_col: str | None = None,
                       score_col: str = "avg_logp",
                       fractions: tuple[float, float] = (1 / 3, 2 / 3),
                       approx: int | None = None) -> DataFrame:
    """CCNet's head/middle/tail split (late r14): label each document
    by which perplexity third it falls in — ``head`` = the
    best-modeled (highest ``avg_logp`` = lowest perplexity) third,
    computed PER GROUP when ``group_col`` is set (CCNet buckets per
    language, so a low-resource language's head is not swamped by the
    dominant one). Documents with a NULL score (no bigram evidence)
    label ``none``.

    ``approx=None`` (default) uses the exact interpolated percentile
    — verified bit-identical to DuckDB's ``quantile_cont`` including
    1/2/3-element groups, so the oracle reproduces the thresholds
    exactly; it sorts per group, which is fine at verification scale.
    At 100 TB pass ``approx=<accuracy>`` to switch to
    ``approx_percentile`` — a one-pass mergeable sketch (no sort, no
    second scan), the documented scale path. The threshold relation
    is group-cardinality-sized and broadcast back — the corpus never
    reshuffles."""
    grp = [group_col] if group_col else []
    pcts = F.lit([float(f) for f in fractions])
    col = F.col(score_col)
    q = (F.percentile(col, pcts) if approx is None
         else F.approx_percentile(col, pcts, F.lit(approx)))
    th = scored.filter(col.isNotNull())
    th = (th.groupBy(*grp) if grp else th.groupBy()).agg(q.alias("_qs"))
    th = th.select(*grp, F.col("_qs")[0].alias("_t1"),
                   F.col("_qs")[1].alias("_t2"))
    if grp:
        joined = scored.join(F.broadcast(th), grp, "left")
    else:
        # 1-row broadcast fold (sanctioned BNLJ shape, PLANS.md)
        joined = scored.crossJoin(F.broadcast(th))
    bucket = (
        F.when(col.isNull() | F.col("_t1").isNull(), "none")
        .when(col >= F.col("_t2"), "head")
        .when(col >= F.col("_t1"), "middle")
        .otherwise("tail")
    )
    return joined.withColumn("ppl_bucket", bucket) \
        .drop("_t1", "_t2")


def pmi_collocations(lm: dict, *, min_count: int = 5,
                     top_k: int | None = None) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs from the LM's
    count relations: pmi(a,b) = ln(c_ab · N / (c_a · c_b)) with N = total
    TOKEN occurrences (Σ c_a — the unigram normalizer; conventions using
    the bigram total differ from this one only by the constant
    ln(N_tok/N_bi), so rankings are identical) — the classic collocation
    detector ('new york' scores high, 'of the' low despite its raw
    frequency). Reuses the bigram/unigram counts train_bigram_lm already
    aggregated: no new corpus pass, just two broadcast-joinable count
    relations and one driver scalar. ``min_count`` suppresses noise pairs
    (PMI's known small-count bias)."""
    uni = lm["unigrams"]
    bi_counts = lm["bigrams"].select("a", "b", "c_ab")
    n_total = uni.agg(F.sum("c_a")).first()[0]  # O(1) driver scalar
    if n_total is None:
        # Degenerate LM (empty/all-empty-text reference corpus): no
        # collocations, not a float(None) crash.
        return bi_counts.select(
            "a", "b", "c_ab", F.lit(0.0).alias("pmi")
        ).limit(0)
    ub = uni.select(F.col("a").alias("b"), F.col("c_a").alias("c_b"))
    out = (
        bi_counts.filter(F.col("c_ab") >= min_count)
        .join(uni, "a")
        .join(ub, "b")
        .select(
            "a",
            "b",
            "c_ab",
            # Cast each count to double BEFORE multiplying: c_a·c_b as
            # longs overflows bigint at ~1e10-count unigrams (ANSI mode
            # would fail the query for exactly the frequent pairs PMI
            # exists to rank).
            F.log(
                F.col("c_ab").cast("double")
                * F.lit(float(n_total))
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    )
    return out.limit(top_k) if top_k is not None else out
