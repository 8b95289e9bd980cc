"""Text-analysis scalar library for LLM-data pipelines (north-star ops).

Every builder takes Spark SQL text (a column name is the simplest
expression) and returns Spark SQL text; callers parse the result once with
``F.expr``/``selectExpr`` and builders compose by formatting. Parsing a
string costs three py4j calls whatever its length, where the same tree
built node by node through the Column API costs about ten per node. Deliberately ANSI-portable:
every function has a DuckDB-SQL mirror in the oracle queries.
Operates on the ``documents`` table (TESTDATA.md).

Literal rules that keep the results bit-identical: doubles carry a ``D``
suffix (a bare ``0.5`` parses as DECIMAL), regexes are raw ``r'...'``
literals, other strings go through :func:`sql_str`, and natural log is
``ln`` (``log`` with one argument divides by ``ln(e)``).
"""

from __future__ import annotations

# Deterministic marker vocabularies for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "les", "des", "et", "une"),
    "de": ("der", "die", "und", "nicht", "das"),
}

EN_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is", "it")


def sql_ident(name: str) -> str:
    """Backtick-quote a column name so SQL text reads it verbatim (dotted
    or otherwise exotic names from flattened ingest stay one column)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """A Spark SQL string literal of ``value`` (backslashes and quotes
    escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_str_array(values) -> str:
    """``array('a', 'b', ...)`` SQL text of a string tuple."""
    return "array(" + ", ".join(sql_str(v) for v in values) + ")"


def normalize_text(col: str) -> str:
    """lower + trim + collapse internal whitespace to single spaces."""
    return rf"lower(trim(regexp_replace({col}, r'\s+', ' ')))"


def tokens(col: str) -> str:
    """Whitespace tokens of the *normalized* text (empty OR NULL text →
    empty array — r6: NULL used to propagate, making the token-derived
    metrics disagree on the same row: token_count coalesced NULL→0 while
    the stopword count returned NULL and quality_score mixed the two; a NULL
    document now behaves as an empty document across every text metric).

    PERF: higher-order functions (filter/transform) are interpreted, not
    codegen'd, so Spark does NOT common-subexpression-eliminate this inside
    their lambdas — project it to a column once (``selectExpr(f"{tokens(...)}
    AS tok")``) and feed the ``*_t`` variants below, instead of calling
    several token functions on the raw text in one select."""
    n = normalize_text(col)
    return (f"CASE WHEN {n} IS NULL OR {n} = '' "
            f"THEN CAST(array() AS ARRAY<STRING>) ELSE split({n}, ' ') END")


def token_count_t(tok: str) -> str:
    """Token count from a pre-projected token array; NULL → 0."""
    return f"CAST(coalesce(size({tok}), 0) AS INT)"


def token_count(col: str) -> str:
    """Whitespace token count; NULL/empty → 0."""
    return token_count_t(tokens(col))


def punct_count(col: str) -> str:
    """Count of punctuation chars (.,;:!?) — length-difference formula so the
    DuckDB oracle can mirror it exactly."""
    stripped = f"regexp_replace({col}, r'[.,;:!?]', '')"
    return (f"CAST(coalesce(length({col}), 0)"
            f" - coalesce(length({stripped}), 0) AS INT)")


def stopword_count_t(tok: str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> str:
    """Stopword-token count from a pre-projected token array."""
    return marker_count_t(tok, stopwords)


def marker_count_t(tok: str, markers: tuple[str, ...]) -> str:
    """Marker-vocabulary token count from a pre-projected token array."""
    return (f"CAST(size(filter({tok}, x -> "
            f"array_contains({sql_str_array(markers)}, x))) AS INT)")


def lang_id_t(tok: str) -> str:
    """Marker-vocabulary language guess from a pre-projected token array,
    with deterministic tie-breaking: highest marker count wins; ties
    resolve in LANG_MARKERS insertion order; zero markers everywhere →
    'und'."""
    counts = {lang: marker_count_t(tok, mks) for lang, mks in LANG_MARKERS.items()}
    best = f"greatest({', '.join(counts.values())})"
    # CASE tests in insertion order, so earlier languages win ties.
    arms = " ".join(f"WHEN {best} > 0 AND {n} = {best} THEN {sql_str(lang)}"
                    for lang, n in counts.items())
    return f"CASE {arms} ELSE 'und' END"


def quality_score_t(col: str, tok: str) -> str:
    """quality_score from raw text + pre-projected token array."""
    nt = f"CAST({token_count_t(tok)} AS DOUBLE)"
    ln = f"CAST(coalesce(length({col}), 0) AS DOUBLE)"
    pr = (f"CASE WHEN {ln} > 0 THEN CAST({punct_count(col)} AS DOUBLE) / {ln}"
          " ELSE 0.0D END")
    sr = (f"CASE WHEN {nt} > 0 THEN CAST({stopword_count_t(tok)} AS DOUBLE)"
          f" / {nt} ELSE 0.0D END")
    return (f"0.5D * least(1.0D, {nt} / 64.0D) + 0.3D * (1.0D - ({pr}))"
            f" + 0.2D * ({sr})")


def quality_score(col: str) -> str:
    """Deterministic heuristic quality in [0,1]:
    0.5·min(1, tokens/64) + 0.3·(1 − punct_ratio) + 0.2·stopword_ratio.
    Fixed double-op order so engines agree bit-for-bit (rounded at query
    boundaries regardless)."""
    return quality_score_t(col, tokens(col))


def clf_logit_t(tok: str) -> str:
    """Hashed-feature linear-model logit (fasttext-style quality classifier
    shape): each token hashes to one of 256 md5 buckets; the bucket's weight
    is a fixed deterministic function of the bucket id ((b % 17)/17 − 0.5 —
    a stand-in for trained weights, which would broadcast as a 256-float
    map); the logit is the length-normalized weight sum. Pure fold over the
    token array — no shuffle, no UDF, and the identical fold order on both
    engines keeps double summation bit-stable."""
    # Association matters for double bit-parity: the oracle computes each
    # weight fully (w = b/17 − 0.5) then folds acc + w, so the engine must
    # group the same way — acc + (w − 0.5), NOT (acc + w) − 0.5.
    w = ("CAST(CAST(conv(substring(md5(x), 1, 2), 16, 10) AS INT) % 17"
         " AS DOUBLE) / 17.0D - 0.5D")
    wsum = f"aggregate({tok}, 0.0D, (acc, x) -> acc + ({w}))"
    return f"{wsum} / (1.0D + CAST(size({tok}) AS DOUBLE))"


def dup_token_fraction_t(tok: str) -> str:
    """Repetition signal (Gopher-style duplicate-fraction family, unigram
    member): fraction of tokens that are repeats of an earlier token —
    1 − |distinct|/|tokens|, 0 for empty docs. High values flag boilerplate
    and degenerate generations; round at the query edge."""
    n = f"CAST(size({tok}) AS DOUBLE)"
    nd = f"CAST(size(array_distinct({tok})) AS DOUBLE)"
    return f"CASE WHEN {n} > 0 THEN ({n} - {nd}) / {n} ELSE 0.0D END"


def token_entropy_t(tok: str) -> str:
    """Unigram token entropy H = −Σ_d (c_d/n)·ln(c_d/n) in nats — the
    information-content quality signal (Gopher-family): boilerplate and
    degenerate generations sit near 0, diverse prose near ln(n). 0 for
    empty docs. Complements :func:`dup_token_fraction_t` (which only sees
    THAT tokens repeat, not how the mass is distributed — "a a a b" and
    "a a b b" share dup_frac 0.5 but differ in entropy).

    Pure fold, no shuffle: per-distinct counts come from ``filter`` over
    the token array — O(L·D) ops per doc, INTERPRETED (higher-order
    lambdas don't codegen; measured ~+0.6 s over 60k docs at sf0.1) but
    map compute, not exchange bytes — and the sum runs over the SORTED
    distinct list so the float accumulation order is deterministic and
    engine-portable (DuckDB mirrors it with list_sort + list_reduce).
    Round at the query edge."""
    n = f"CAST(size({tok}) AS DOUBLE)"
    r = f"(CAST(size(filter({tok}, x -> x = d)) AS DOUBLE) / {n})"
    fold = (f"aggregate(array_sort(array_distinct({tok})), 0.0D, "
            f"(acc, d) -> acc - {r} * ln({r}))")
    return f"CASE WHEN size({tok}) > 0 THEN {fold} ELSE 0.0D END"


def rolling_hash_t(tok: str) -> str:
    """Polynomial rolling hash over the token stream (Karp–Rabin form:
    acc·31 + h(tok) mod 1e9+7). Order-sensitive — unlike the md5 content
    fingerprint — and prefix-stable: streaming ingest can maintain it
    incrementally. Pure higher-order fold, no UDF; h(tok) is the first 8
    md5 hex chars as an integer so DuckDB reproduces it."""
    h = "CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)"
    return (f"aggregate({tok}, CAST(0 AS BIGINT), "
            f"(acc, x) -> (acc * 31 + {h}) % 1000000007)")


def doc_fingerprint(col: str) -> str:
    """Stable content fingerprint: md5 of the normalized text (hex string —
    identical across engines, unlike engine-native hash())."""
    return f"md5({normalize_text(col)})"


def word_shingles_t(tok: str, k: int = 3) -> str:
    """k-word shingles from a pre-projected token array. CRITICAL: the input
    must be a plain column reference — transform() lambdas are interpreted,
    so an inline tokens(...) expression here would be re-evaluated once per
    shingle index (measured ~7× slowdown on the dedup pipeline)."""
    k = int(k)
    return (f"CASE WHEN size({tok}) >= {k} "
            f"THEN transform(sequence(1, size({tok}) - {k - 1}), "
            f"i -> concat_ws(' ', slice({tok}, i, {k}))) "
            "ELSE CAST(array() AS ARRAY<STRING>) END")


def dup_ngram_fraction_t(tok: str, n: int = 2) -> str:
    """Duplicate word-n-gram fraction (the Gopher repetition filters'
    n-gram members — unigram is :func:`dup_token_fraction_t`): fraction
    of the doc's n-grams that repeat an earlier one, 1 − |distinct|/|all|,
    0 when the doc has fewer than n tokens. Boilerplate that interleaves
    filler ("buy now X buy now Y …") evades the unigram fraction but not
    the bigram/trigram ones. Rides :func:`word_shingles_t`'s projection —
    map-only, no shuffle; round at the query edge."""
    sh = word_shingles_t(tok, k=n)
    total = f"CAST(size({sh}) AS DOUBLE)"
    nd = f"CAST(size(array_distinct({sh})) AS DOUBLE)"
    return f"CASE WHEN {total} > 0 THEN ({total} - {nd}) / {total} ELSE 0.0D END"
