"""Published corpus-quality rule presets — Gopher and C4 — as pure
Column math.

The engine's generic funnel (plans/text_queries.corpus_filter_report,
corpus.curate_corpus) takes arbitrary thresholds; what a pretraining
team actually reaches for first are the two NAMED rule sets every
public pipeline reproduces:

- **Gopher quality rules** (Rae et al. 2021, "Scaling Language
  Models: Methods, Analysis & Insights from Training Gopher",
  App. A1.1 — the set reproduced by Dolma/FineWeb/RedPajama): word
  count bounds, mean-word-length bounds, symbol-to-word ratios,
  bullet/ellipsis line ratios, alphabetic-word fraction, required
  stop words. :func:`gopher_flags` emits one boolean per rule plus a
  first-fail verdict, so the funnel report stays attributable.
- **C4 line rules** (Raffel et al. 2020, "Exploring the Limits of
  Transfer Learning…", §2.2): keep lines ending in terminal
  punctuation with ≥ `min_words_per_line` words, drop
  boilerplate-policy and ``javascript`` lines, drop whole pages
  containing ``lorem ipsum`` or ``{``, require a minimum surviving
  line count. :func:`c4_clean` rewrites the text to the surviving
  lines and flags page-level drops.

Both are map-only (split/filter/aggregate higher-order Column ops —
zero Python UDFs, no shuffle), so they compose in front of the dedup
ladder at any scale. Every rule is a plain Column so callers can
re-threshold without forking the preset.

Reference anchor: the reference ETL curates nothing (its transform
block is fetch_youtube_data.py:171-190); these presets are part of
the corpus-curation north star this engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# Gopher App. A1.1 constants (the published values)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1          # '#' or '…' per word
GOPHER_MAX_BULLET_LINE_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_LINE_RATIO = 0.3
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")
GOPHER_MIN_STOPWORDS = 2

_BULLET_PREFIXES = ("•", "-", "*")  # •, -, *


def _lines(text: Column) -> Column:
    return F.split(F.coalesce(text, F.lit("")), r"\r\n|\r|\n")


def gopher_flags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds the seven Gopher-rule booleans, a ``gopher_verdict``
    first-fail attribution (rule order as published), and
    ``gopher_pass``. Rules:

    ``g_word_count``      50 ≤ words ≤ 100k
    ``g_mean_word_len``   3 ≤ mean word length ≤ 10
    ``g_symbol_ratio``    (# + …) / words ≤ 0.1
    ``g_bullet_lines``    ≤ 90% of lines start with a bullet
    ``g_ellipsis_lines``  ≤ 30% of lines end with an ellipsis
    ``g_alpha_words``     ≥ 80% of words contain a letter
    ``g_stop_words``      ≥ 2 of the 8 required stop words appear
    """
    text = F.col(text_col)
    # project the token array ONCE: interpreted higher-order exprs are
    # not CSE'd by Catalyst (the functions/text.py PERF note), so every
    # rule below reads the same `_g_tok` column instead of re-running
    # lower+trim+regexp+split per expression (r12 review fix)
    docs = docs.withColumn("_g_tok", F.expr(tokens(text_col)))
    tok = F.col("_g_tok")
    nw = F.size(tok)
    total_len = F.aggregate(
        tok, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = F.when(nw > 0, total_len / nw).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(
        F.regexp_replace(text, "#", ""))
    n_ellip = F.length(F.regexp_replace(
        text, r"\.\.\.", "…")) - F.length(F.regexp_replace(
            F.regexp_replace(text, r"\.\.\.", "…"), "…", ""))
    lines = _lines(text)
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(
        lines,
        lambda ln: F.exists(
            F.array(*[F.lit(b) for b in _BULLET_PREFIXES]),
            lambda b: F.trim(ln).startswith(b),
        ),
    ))
    ellipsis_lines = F.size(F.filter(
        lines,
        lambda ln: F.trim(ln).endswith("...")
        | F.trim(ln).endswith("…"),
    ))
    alpha_words = F.size(F.filter(
        tok, lambda t: t.rlike("[a-zA-Z]")))
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        lambda s: F.array_contains(tok, s),
    ))

    out = docs.withColumns({
        "g_word_count": (nw >= GOPHER_MIN_WORDS)
        & (nw <= GOPHER_MAX_WORDS),
        "g_mean_word_len": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "g_symbol_ratio": F.when(
            nw > 0, (n_hash + n_ellip) / nw <= GOPHER_MAX_SYMBOL_RATIO
        ).otherwise(F.lit(False)),
        "g_bullet_lines": F.when(
            n_lines > 0,
            bullet_lines / n_lines <= GOPHER_MAX_BULLET_LINE_RATIO,
        ).otherwise(F.lit(True)),
        "g_ellipsis_lines": F.when(
            n_lines > 0,
            ellipsis_lines / n_lines <= GOPHER_MAX_ELLIPSIS_LINE_RATIO,
        ).otherwise(F.lit(True)),
        "g_alpha_words": F.when(
            nw > 0, alpha_words / nw >= GOPHER_MIN_ALPHA_WORD_RATIO
        ).otherwise(F.lit(False)),
        "g_stop_words": stop_hits >= GOPHER_MIN_STOPWORDS,
    })
    verdict = (
        F.when(~F.col("g_word_count"), "word_count")
        .when(~F.col("g_mean_word_len"), "mean_word_len")
        .when(~F.col("g_symbol_ratio"), "symbol_ratio")
        .when(~F.col("g_bullet_lines"), "bullet_lines")
        .when(~F.col("g_ellipsis_lines"), "ellipsis_lines")
        .when(~F.col("g_alpha_words"), "alpha_words")
        .when(~F.col("g_stop_words"), "stop_words")
        .otherwise("keep")
    )
    return (
        out.withColumn("g_n_words", nw)
        .withColumn("gopher_verdict", verdict)
        .withColumn("gopher_pass", F.col("gopher_verdict") == "keep")
        .drop("_g_tok")
    )


C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL = (".", "!", "?", '"', "”")  # incl. closing quote
C4_POLICY_PHRASES = ("terms of use", "privacy policy",
                     "cookie policy", "uses cookies")
C4_PAGE_DROP_PHRASES = ("lorem ipsum", "{")


def c4_clean(docs: DataFrame, text_col: str = "text",
             min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
             min_kept_lines: int = C4_MIN_KEPT_LINES) -> DataFrame:
    """C4 §2.2 line filtering: keep lines that end in terminal
    punctuation AND have ≥ ``min_words_per_line`` words AND carry
    neither ``javascript`` nor a cookie/policy boilerplate phrase;
    rewrite ``c4_text`` to the surviving lines. Page-level flags:
    ``c4_page_drop`` when the page contains ``lorem ipsum`` / ``{``
    or keeps fewer than ``min_kept_lines`` lines (the published
    3-sentence floor, applied per kept line as the line-oriented
    proxy); ``c4_pass`` = not dropped. Original column untouched."""
    text = F.col(text_col)
    lines = _lines(text)

    def line_ok(ln: Column) -> Column:
        t = F.trim(ln)
        lower = F.lower(t)
        ends_ok = F.exists(
            F.array(*[F.lit(p) for p in C4_TERMINAL]),
            lambda p: t.endswith(p),
        )
        words_ok = F.size(F.split(t, r"\s+")) >= min_words_per_line
        no_js = ~lower.contains("javascript")
        no_policy = ~F.exists(
            F.array(*[F.lit(p) for p in C4_POLICY_PHRASES]),
            lambda p: lower.contains(p),
        )
        return ends_ok & words_ok & no_js & no_policy

    kept = F.filter(lines, line_ok)
    lower_text = F.lower(F.coalesce(text, F.lit("")))
    page_phrase_drop = F.exists(
        F.array(*[F.lit(p) for p in C4_PAGE_DROP_PHRASES]),
        lambda p: lower_text.contains(p),
    )
    return docs.withColumns({
        "c4_text": F.concat_ws("\n", kept),
        "c4_kept_lines": F.size(kept),
        "c4_page_drop": page_phrase_drop
        | (F.size(kept) < min_kept_lines),
    }).withColumn("c4_pass", ~F.col("c4_page_drop"))


# Gopher Table A1 repetition thresholds (remove the document when the
# fraction EXCEEDS the bound)
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_PARA_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_DUP_PARA_CHAR_FRAC = 0.20
GOPHER_MAX_TOP_NGRAM_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 6: 0.14, 7: 0.13,
                                  8: 0.12, 9: 0.11, 10: 0.10}


def _dup_stats(elems: Column) -> tuple[Column, Column]:
    """(duplicate-element fraction, duplicate-element char fraction)
    over an array of strings: an element occurring k times contributes
    its k-1 repeat occurrences (and their characters) as duplicates.
    Array-local math -- bounded by lines/paragraphs per document, which
    is small; n-grams do NOT use this path (see the explode pipeline
    in :func:`gopher_repetition_flags`)."""
    total = F.size(elems)
    total_chars = F.aggregate(elems, F.lit(0),
                              lambda a, e: a + F.length(e))
    distinct = F.array_distinct(elems)
    per = F.transform(
        distinct,
        lambda d: F.struct(
            (F.size(F.filter(elems, lambda e: e == d)) - 1).alias("k1"),
            F.length(d).alias("ln"),
        ),
    )
    dup_n = F.aggregate(per, F.lit(0), lambda a, s: a + s["k1"])
    dup_chars = F.aggregate(per, F.lit(0),
                            lambda a, s: a + s["k1"] * s["ln"])
    frac = F.when(total > 0, dup_n / total).otherwise(F.lit(0.0))
    cfrac = F.when(total_chars > 0, dup_chars / total_chars) \
        .otherwise(F.lit(0.0))
    return frac, cfrac


def gopher_repetition_flags(docs: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            top_ngram_min_count: int = 2,
                            char_denominator: str = "token_chars",
                            ) -> DataFrame:
    """The OTHER half of Gopher Table A1 -- the repetition rules --
    with per-rule fractions, booleans, first-fail
    ``gopher_rep_verdict``, and ``gopher_rep_pass``:

    - duplicate line / paragraph fraction <= 0.30 (repeat occurrences
      over total), duplicate line / paragraph CHARACTER fraction
      <= 0.20;
    - top {2,3,4}-gram character fraction <= {0.20, 0.18, 0.16}
      (the most frequent n-gram's characters, all occurrences, over
      total token characters; a gram must occur at least twice to
      count — a once-occurring gram is not repetition);
    - duplicate {5..10}-gram character fraction <= {0.15 .. 0.10}
      (characters of ALL occurrences of n-grams appearing more than
      once -- the Dolma-style definition, occurrences counted without
      position-overlap dedup; stated here because published
      reproductions differ on this detail).

    Published reproductions differ on two knobs, so both are exposed
    (r13 ADVICE — the defaults keep this module's documented
    semantics): ``top_ngram_min_count`` gates which grams may be "the
    top n-gram" — the default 2 says a once-occurring gram is not
    repetition; Dolma/datatrove include once-occurring grams, so pass
    1 to reproduce them. ``char_denominator`` picks the fraction's
    denominator: ``"token_chars"`` (default — characters of the
    tokens, the quantity the numerators are measured in) or
    ``"text_chars"`` (``length(text)``, the Dolma/datatrove
    denominator — includes whitespace/punctuation, so fractions run
    ~15-20% lower on normal prose).

    Scale shape: line/paragraph stats are array-local (documents have
    bounded line counts); the n-gram stats CANNOT be array-local
    (quadratic in document length), so they run as one explode of
    xxhash64 gram keys (n = 2..10 -> 9 int rows per token, strings
    never shuffle) -> count per (doc, n, gram) -> per-(doc, n) top/dup
    character sums -> pivot back to columns and join on ``id_col``.
    One shuffle keyed (doc, n, gram-hash), one keyed (doc) -- the
    MinHash pipeline's traffic class. Documents with no tokens pass
    every rule."""
    if char_denominator not in ("token_chars", "text_chars"):
        raise ValueError(
            "char_denominator must be 'token_chars' or 'text_chars', "
            f"got {char_denominator!r}")
    if not isinstance(top_ngram_min_count, int) \
            or isinstance(top_ngram_min_count, bool) \
            or top_ngram_min_count < 1:
        raise ValueError(
            "top_ngram_min_count must be an int >= 1 (it is "
            "interpolated into the gating expression)")
    text = F.col(text_col)
    tok = F.expr(tokens(text_col))
    lines = F.filter(_lines(text), lambda ln: F.trim(ln) != "")
    paras = F.filter(
        F.split(F.coalesce(text, F.lit("")),
                r"(\r\n|\r|\n)\s*(\r\n|\r|\n)"),
        lambda p: F.trim(p) != "")
    line_frac, line_cfrac = _dup_stats(lines)
    para_frac, para_cfrac = _dup_stats(paras)

    base = docs.withColumns({
        "_tok": tok,
        "dup_line_frac": line_frac,
        "dup_line_char_frac": line_cfrac,
        "dup_para_frac": para_frac,
        "dup_para_char_frac": para_cfrac,
        "_tok_chars": (
            F.aggregate(tok, F.lit(0), lambda a, t: a + F.length(t))
            if char_denominator == "token_chars"
            else F.coalesce(F.length(text), F.lit(0))
        ),
    })

    ns = sorted(list(GOPHER_MAX_TOP_NGRAM_CHAR_FRAC)
                + list(GOPHER_MAX_DUP_NGRAM_CHAR_FRAC))
    # grams as (hash, chars) pairs per n -- strings stay map-side
    gram_arrays = F.flatten(F.array(*[
        F.when(
            F.size(F.col("_tok")) >= n,
            F.transform(
                F.slice(F.col("_tok"), F.lit(1),
                        F.greatest(F.size(F.col("_tok")) - (n - 1),
                                   F.lit(0))),
                lambda _t, i: F.struct(
                    F.lit(n).alias("n"),
                    F.xxhash64(F.concat_ws(
                        "\x1f",
                        F.slice(F.col("_tok"), i + 1, n))).alias("g"),
                    F.aggregate(
                        F.slice(F.col("_tok"), i + 1, n), F.lit(0),
                        lambda a, t: a + F.length(t)).alias("chars"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<n:int,g:bigint,chars:int>>"))
        for n in ns
    ]))
    grams = (
        base.select(F.col(id_col).alias("_id"),
                    F.explode(gram_arrays).alias("gr"))
        .select("_id", F.col("gr.n").alias("n"),
                F.col("gr.g").alias("g"),
                F.col("gr.chars").alias("chars"))
        .groupBy("_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.first("chars").alias("chars"))
    )
    per_n = grams.groupBy("_id", "n").agg(
        # the published rule reads the MOST FREQUENT n-gram's character
        # coverage, so the selector is the count (ties broken toward
        # larger coverage), NOT a max over cnt*chars products — and a
        # gram occurring once is not repetition, so cnt >= 2 gates it
        # (r12 review fixes)
        F.expr(
            f"max_by(CASE WHEN cnt >= {top_ngram_min_count} "
            "THEN cnt * chars END, "
            f"CASE WHEN cnt >= {top_ngram_min_count} "
            "THEN struct(cnt, chars) END)"
        ).alias("top_chars"),
        F.sum(F.when(F.col("cnt") > 1,
                     F.col("cnt") * F.col("chars"))
              .otherwise(F.lit(0))).alias("dup_chars"),
    )
    stats = per_n.groupBy("_id").pivot("n", ns).agg(
        F.first(F.struct("top_chars", "dup_chars")))

    joined = base.join(stats, base[id_col] == stats["_id"], "left") \
        .drop("_id")
    tc = F.col("_tok_chars")

    def top_frac(n):
        v = F.col(f"{n}.top_chars")
        return F.when((tc > 0) & v.isNotNull(), v / tc) \
            .otherwise(F.lit(0.0))

    def dup_frac(n):
        v = F.col(f"{n}.dup_chars")
        return F.when((tc > 0) & v.isNotNull(), v / tc) \
            .otherwise(F.lit(0.0))

    flags = {
        "rep_dup_line": F.col("dup_line_frac")
        <= GOPHER_MAX_DUP_LINE_FRAC,
        "rep_dup_para": F.col("dup_para_frac")
        <= GOPHER_MAX_DUP_PARA_FRAC,
        "rep_dup_line_chars": F.col("dup_line_char_frac")
        <= GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        "rep_dup_para_chars": F.col("dup_para_char_frac")
        <= GOPHER_MAX_DUP_PARA_CHAR_FRAC,
    }
    for n, thr in GOPHER_MAX_TOP_NGRAM_CHAR_FRAC.items():
        flags[f"rep_top_{n}gram"] = top_frac(n) <= thr
    for n, thr in GOPHER_MAX_DUP_NGRAM_CHAR_FRAC.items():
        flags[f"rep_dup_{n}gram"] = dup_frac(n) <= thr
    out = joined.withColumns(flags)

    order = (["rep_dup_line", "rep_dup_para", "rep_dup_line_chars",
              "rep_dup_para_chars"]
             + [f"rep_top_{n}gram" for n in
                sorted(GOPHER_MAX_TOP_NGRAM_CHAR_FRAC)]
             + [f"rep_dup_{n}gram" for n in
                sorted(GOPHER_MAX_DUP_NGRAM_CHAR_FRAC)])
    verdict = F.coalesce(*[
        F.when(~F.col(c), F.lit(c.replace("rep_", "", 1)))
        for c in order
    ], F.lit("keep"))
    return (
        out.withColumn("gopher_rep_verdict", verdict)
        .withColumn("gopher_rep_pass",
                    F.col("gopher_rep_verdict") == "keep")
        .drop("_tok", "_tok_chars", *[str(n) for n in ns])
    )
