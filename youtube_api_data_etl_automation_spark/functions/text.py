"""Text-analysis scalar library for LLM-data pipelines (north-star ops).

All pure Column expressions (JVM-side, codegen-friendly) and deliberately
ANSI-portable: every function has a DuckDB-SQL mirror used by the driver's
oracle check. Operates on the ``documents`` table (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .colcache import name_memo

# Deterministic marker vocabularies for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "les", "des", "et", "une"),
    "de": ("der", "die", "und", "nicht", "das"),
}

EN_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is", "it")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


@name_memo
def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse internal whitespace to single spaces."""
    return F.lower(F.trim(F.regexp_replace(_c(col), r"\s+", " ")))


@name_memo
def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the *normalized* text (empty OR NULL text →
    empty array — r6: NULL used to propagate, making the token-derived
    metrics disagree on the same row: token_count coalesced NULL→0 while
    the stopword count returned NULL and quality_score mixed the two; a NULL
    document now behaves as an empty document across every text metric).

    PERF: higher-order functions (filter/transform) are interpreted, not
    codegen'd, so Spark does NOT common-subexpression-eliminate this inside
    their lambdas — project it to a column once (``.withColumn("tok",
    tokens(...))``) and feed the ``*_t`` variants below, instead of calling
    several token functions on the raw text in one select."""
    n = normalize_text(col)
    return F.when(
        n.isNull() | (n == ""), F.array().cast("array<string>")
    ).otherwise(F.split(n, " "))


@name_memo
def token_count_t(tok: Column | str) -> Column:
    """Token count from a pre-projected token array; NULL → 0."""
    t = _c(tok) if isinstance(tok, str) else tok
    return F.coalesce(F.size(t), F.lit(0)).cast("int")


@name_memo
def token_count(col: Column | str) -> Column:
    """Whitespace token count; NULL/empty → 0."""
    return token_count_t(tokens(col))


@name_memo
def punct_count(col: Column | str) -> Column:
    """Count of punctuation chars (.,;:!?) — length-difference formula so the
    DuckDB oracle can mirror it exactly."""
    c = _c(col)
    stripped = F.regexp_replace(c, r"[.,;:!?]", "")
    return (F.coalesce(F.length(c), F.lit(0)) - F.coalesce(F.length(stripped), F.lit(0))).cast("int")


@name_memo
def stopword_count_t(tok: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Stopword-token count from a pre-projected token array."""
    t = F.col(tok) if isinstance(tok, str) else tok
    sw = F.lit(list(stopwords))
    return F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("int")


@name_memo
def marker_count_t(tok: Column | str, markers: tuple[str, ...]) -> Column:
    """Marker-vocabulary token count from a pre-projected token array."""
    t = F.col(tok) if isinstance(tok, str) else tok
    mk = F.lit(list(markers))
    return F.size(F.filter(t, lambda x: F.array_contains(mk, x))).cast("int")


@name_memo
def lang_id_t(tok: Column | str) -> Column:
    """Marker-vocabulary language guess from a pre-projected token array,
    with deterministic tie-breaking: highest marker count wins; ties
    resolve in LANG_MARKERS insertion order; zero markers everywhere →
    'und'."""
    counts = {lang: marker_count_t(tok, mks) for lang, mks in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # Build the when-chain in reverse so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


@name_memo
def quality_score_t(col: Column | str, tok: Column | str) -> Column:
    """quality_score from raw text + pre-projected token array."""
    nt = token_count_t(tok).cast("double")
    ln = F.coalesce(F.length(_c(col)), F.lit(0)).cast("double")
    pr = F.when(ln > 0, punct_count(col).cast("double") / ln).otherwise(F.lit(0.0))
    sr = F.when(nt > 0, stopword_count_t(tok).cast("double") / nt).otherwise(F.lit(0.0))
    return (
        F.lit(0.5) * F.least(F.lit(1.0), nt / F.lit(64.0))
        + F.lit(0.3) * (F.lit(1.0) - pr)
        + F.lit(0.2) * sr
    )


@name_memo
def quality_score(col: Column | str) -> Column:
    """Deterministic heuristic quality in [0,1]:
    0.5·min(1, tokens/64) + 0.3·(1 − punct_ratio) + 0.2·stopword_ratio.
    Fixed double-op order so engines agree bit-for-bit (rounded at query
    boundaries regardless)."""
    return quality_score_t(col, tokens(col))


@name_memo
def clf_logit_t(tok: Column | str) -> Column:
    """Hashed-feature linear-model logit (fasttext-style quality classifier
    shape): each token hashes to one of 256 md5 buckets; the bucket's weight
    is a fixed deterministic function of the bucket id ((b % 17)/17 − 0.5 —
    a stand-in for trained weights, which would broadcast as a 256-float
    map); the logit is the length-normalized weight sum. Pure fold over the
    token array — no shuffle, no UDF, and the identical fold order on both
    engines keeps double summation bit-stable."""
    t = F.col(tok) if isinstance(tok, str) else tok
    # Association matters for double bit-parity: the oracle computes each
    # weight fully (w = b/17 − 0.5) then folds acc + w, so the engine must
    # group the same way — acc + (w − 0.5), NOT (acc + w) − 0.5.
    wsum = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, x: acc
        + (
            (
                F.conv(F.substring(F.md5(x), 1, 2), 16, 10).cast("int") % 17
            ).cast("double")
            / F.lit(17.0)
            - F.lit(0.5)
        ),
    )
    return wsum / (F.lit(1.0) + F.size(t).cast("double"))


@name_memo
def dup_token_fraction_t(tok: Column | str) -> Column:
    """Repetition signal (Gopher-style duplicate-fraction family, unigram
    member): fraction of tokens that are repeats of an earlier token —
    1 − |distinct|/|tokens|, 0 for empty docs. High values flag boilerplate
    and degenerate generations; round at the query edge."""
    t = F.col(tok) if isinstance(tok, str) else tok
    n = F.size(t).cast("double")
    nd = F.size(F.array_distinct(t)).cast("double")
    return F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0))


@name_memo
def token_entropy_t(tok: Column | str) -> Column:
    """Unigram token entropy H = −Σ_d (c_d/n)·ln(c_d/n) in nats — the
    information-content quality signal (Gopher-family): boilerplate and
    degenerate generations sit near 0, diverse prose near ln(n). 0 for
    empty docs. Complements :func:`dup_token_fraction_t` (which only sees
    THAT tokens repeat, not how the mass is distributed — "a a a b" and
    "a a b b" share dup_frac 0.5 but differ in entropy).

    Pure Column fold, no shuffle: per-distinct counts come from
    ``filter`` over the token array — O(L·D) ops per doc, INTERPRETED
    (higher-order lambdas don't codegen; measured ~+0.6 s over 60k docs
    at sf0.1) but map compute, not exchange bytes — and the sum runs
    over the SORTED
    distinct list so the float accumulation order is deterministic and
    engine-portable (DuckDB mirrors it with list_sort + list_reduce).
    Round at the query edge."""
    t = F.col(tok) if isinstance(tok, str) else tok
    n = F.size(t).cast("double")
    distinct_sorted = F.array_sort(F.array_distinct(t))

    def term(acc, d):
        c = F.size(F.filter(t, lambda x: x == d)).cast("double")
        r = c / n
        return acc - r * F.log(r)

    return F.when(
        F.size(t) > 0, F.aggregate(distinct_sorted, F.lit(0.0), term)
    ).otherwise(F.lit(0.0))


@name_memo
def rolling_hash_t(tok: Column | str) -> Column:
    """Polynomial rolling hash over the token stream (Karp–Rabin form:
    acc·31 + h(tok) mod 1e9+7). Order-sensitive — unlike the md5 content
    fingerprint — and prefix-stable: streaming ingest can maintain it
    incrementally. Pure higher-order Column fold, no UDF; h(tok) is the
    first 8 md5 hex chars as an integer so DuckDB reproduces it."""
    t = F.col(tok) if isinstance(tok, str) else tok
    tok_hash = lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")  # noqa: E731
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + tok_hash(x)) % F.lit(1_000_000_007),
    )


@name_memo
def doc_fingerprint(col: Column | str) -> Column:
    """Stable content fingerprint: md5 of the normalized text (hex string —
    identical across engines, unlike engine-native hash())."""
    return F.md5(normalize_text(col))


@name_memo
def word_shingles_t(tok: Column | str, k: int = 3) -> Column:
    """k-word shingles from a pre-projected token array. CRITICAL: the input
    must be a plain column reference — transform() lambdas are interpreted,
    so an inline tokens(...) expression here would be re-evaluated once per
    shingle index (measured ~7× slowdown on the dedup pipeline)."""
    t = F.col(tok) if isinstance(tok, str) else tok
    n = F.size(t)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    shingle = lambda i: F.concat_ws(" ", F.slice(t, i, k))  # noqa: E731
    return F.when(n >= k, F.transform(idx, shingle)).otherwise(
        F.array().cast("array<string>")
    )


@name_memo
def dup_ngram_fraction_t(tok: Column | str, n: int = 2) -> Column:
    """Duplicate word-n-gram fraction (the Gopher repetition filters'
    n-gram members — unigram is :func:`dup_token_fraction_t`): fraction
    of the doc's n-grams that repeat an earlier one, 1 − |distinct|/|all|,
    0 when the doc has fewer than n tokens. Boilerplate that interleaves
    filler ("buy now X buy now Y …") evades the unigram fraction but not
    the bigram/trigram ones. Rides :func:`word_shingles_t`'s projection —
    map-only, no shuffle; round at the query edge."""
    sh = word_shingles_t(tok, k=n)
    total = F.size(sh).cast("double")
    nd = F.size(F.array_distinct(sh)).cast("double")
    return F.when(total > 0, (total - nd) / total).otherwise(F.lit(0.0))
