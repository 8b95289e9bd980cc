"""Text-analysis + deduplication queries over the ``documents`` table
(north-star LLM-pipeline ops; BASELINE.json).

Every oracle reproduces the engine's exact formulas in DuckDB SQL — same
normalization, same hash (md5 hex), same arithmetic order — so the driver's
value-hash comparison is meaningful, not coincidental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round6
from ..functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    lang_id_t,
    punct_count,
    stopword_count_t,
    token_count_t,
    tokens,
)
from ..operators.dedup import exact_duplicates, minhash_lsh_pairs, ngram_jaccard_pairs
from ..sources.tables import load_table
from .registry import query

# DuckDB mirror of functions.text.normalize_text
_NORM = r"lower(trim(regexp_replace({col}, '\s+', ' ', 'g')))"


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# BPE-ish bounded-subword pattern: greedy ≤4-char chunks approximate
# subword-vocab token counts for tokenizer-budget estimation.
_SUBWORD_PAT = "[a-z]{1,4}|[0-9]{1,3}"

# DuckDB mirror of functions.text.rolling_hash_t's per-token hash: the
# first 8 md5 hex chars as an integer.
_HEX_VAL = "+".join(
    f"(strpos('0123456789abcdef', substr(md5(x), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
    for j in range(8)
)


@query(
    "text_stats_docs",
    oracle=f"""
    WITH n AS (
      -- COALESCE: the engine's tokens() treats NULL text as empty text
      -- (r6), so every token-derived metric must read 0, not NULL
      SELECT doc_id, text, {_NORM.format(col="COALESCE(text, '')")} AS norm
      FROM documents
    ), t AS (
      SELECT doc_id, text, norm,
             CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(norm, ' ') END AS tok
      FROM n
    )
    SELECT doc_id,
           CAST(CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS INT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS n_punct,
           CAST(len(list_filter(string_split(norm, ' '),
                                x -> list_contains({_sql_list(EN_STOPWORDS)}, x))) AS INT) AS n_stopwords,
           CAST(COALESCE(length(text), 0) AS INT) AS n_chars_raw,
           CAST(COALESCE(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0) AS INT) AS n_words,
           CAST(COALESCE(len(regexp_extract_all(lower(text), '{_SUBWORD_PAT}')), 0) AS INT) AS n_subwords,
           floor((CASE WHEN norm = '' THEN 0.0
                       ELSE 1.0 - CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
                                  / len(string_split(norm, ' ')) END) * 1000000.0 + 0.5)
             / 1000000.0 AS dup_token_frac,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(tok, x -> CAST({_HEX_VAL} AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS rhash,
           -- unigram entropy: mirror of functions/text.py::token_entropy_t —
           -- same sorted-distinct fold order, same acc − (c/n)·ln(c/n) ops
           floor((CASE WHEN norm = '' THEN 0.0 ELSE
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_sort(list_distinct(tok)),
                   d -> -(CAST(len(list_filter(tok, x -> x = d)) AS DOUBLE)
                          / len(tok))
                        * ln(CAST(len(list_filter(tok, x -> x = d)) AS DOUBLE)
                             / len(tok)))),
               (acc, v) -> acc + v)
           END) * 1000000.0 + 0.5) / 1000000.0 AS token_entropy,
           -- duplicate-bigram fraction: mirror of functions/text.py::
           -- dup_ngram_fraction_t (word_shingles_t k=2: concat_ws over a
           -- 2-slice == array_to_string over the inclusive 1-based slice)
           floor((CASE WHEN len(tok) >= 2 THEN
             1.0 - CAST(len(list_distinct(list_transform(range(1, len(tok)),
                          i -> array_to_string(tok[i:i+1], ' ')))) AS DOUBLE)
                   / (len(tok) - 1)
           ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_frac
    FROM t
    """,
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation + stopword stats, the tokenizer-budget
    counts (alnum word tokens and a BPE-ish bounded-subword count — greedy
    ≤4-char chunks ≈ subword-vocab tokens), the Gopher-style
    duplicate-token repetition fraction, and the Karp–Rabin rolling-hash
    fingerprint (functions/text.py::rolling_hash_t — order-sensitive,
    prefix-stable, r4: fused here from its own registry slot; same
    documents pass), plus (late r8) the unigram token ENTROPY — the
    distribution-aware repetition signal dup_token_frac can't see
    (functions/text.py::token_entropy_t; sorted-distinct fold so the
    float order is engine-portable). All JVM-side Column expressions — regexp_count is
    codegen'd, no UDF anywhere."""
    from ..functions.text import (
        dup_ngram_fraction_t,
        dup_token_fraction_t,
        rolling_hash_t,
        token_entropy_t,
    )

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = docs.select("doc_id", "text", tokens("text").alias("tok"))
    lower = F.lower(F.col("text"))
    return toks.select(
        "doc_id",
        token_count_t("tok").alias("n_tokens"),
        punct_count("text").alias("n_punct"),
        stopword_count_t("tok").alias("n_stopwords"),
        F.coalesce(F.length("text"), F.lit(0)).cast("int").alias("n_chars_raw"),
        F.coalesce(F.regexp_count(lower, F.lit("[a-z0-9]+")), F.lit(0))
        .cast("int")
        .alias("n_words"),
        F.coalesce(F.regexp_count(lower, F.lit(_SUBWORD_PAT)), F.lit(0))
        .cast("int")
        .alias("n_subwords"),
        round6(dup_token_fraction_t("tok")).alias("dup_token_frac"),
        rolling_hash_t("tok").alias("rhash"),
        round6(token_entropy_t("tok")).alias("token_entropy"),
        round6(dup_ngram_fraction_t("tok", n=2)).alias("dup_bigram_frac"),
    )


def _lang_quality_oracle() -> str:
    counts = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_sql_list(mks)}, x))) AS INT) AS c_{lang}"
        for lang, mks in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    whens = "\n                ".join(
        f"WHEN c_{lg} = best THEN '{lg}'" for lg in langs
    )
    return f"""
    WITH n AS (
      SELECT doc_id, text, {_NORM.format(col="COALESCE(text, '')")} AS norm
      FROM documents
    ), t AS (
      SELECT doc_id, text, norm,
             CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
      FROM n
    ), c AS (
      SELECT doc_id, text, toks,
             {counts}
      FROM t
    ), b AS (
      SELECT doc_id, text, toks, {best} AS best, c_en, c_es, c_fr, c_de FROM c
    ), s AS (
      SELECT doc_id,
             CASE WHEN best = 0 THEN 'und'
                {whens}
                ELSE 'und' END AS lang_guess,
             CAST(len(toks) AS DOUBLE) AS nt,
             CAST(COALESCE(length(text), 0) AS DOUBLE) AS ln,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(EN_STOPWORDS)}, x))) AS DOUBLE) AS sw,
             COALESCE(list_sum(list_transform(toks, x ->
                 (((strpos('0123456789abcdef', substr(md5(x), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(x), 2, 1)) - 1) % 17) / 17.0 - 0.5)),
               0.0) AS wsum
      FROM b
    ),
    -- bigram LM trained on the doc_id-mod-11 reference slice (add-k, k=0.5)
    refuni AS (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a FROM (
        SELECT unnest(toks) AS a FROM t WHERE doc_id % 11 = 0
      ) GROUP BY a
    ),
    refbi AS (
      SELECT toks[i] AS a, toks[i+1] AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM t, UNNEST(range(1, greatest(len(toks), 1))) AS u(i)
      WHERE doc_id % 11 = 0 AND i < len(toks)
      GROUP BY 1, 2
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM refuni),
    docbi AS (
      SELECT doc_id, toks[i] AS a, toks[i+1] AS b
      FROM t, UNNEST(range(1, greatest(len(toks), 1))) AS u(i)
      WHERE i < len(toks)
    ),
    lmscore AS (
      SELECT d.doc_id,
             CASE WHEN rb.c_ab IS NOT NULL THEN ln((rb.c_ab + 0.5) / (ru.c_a + 0.5 * v.v))
                  WHEN ru.c_a IS NOT NULL THEN ln(0.5 / (ru.c_a + 0.5 * v.v))
                  ELSE ln(1.0 / v.v) END AS lp
      FROM docbi d
      LEFT JOIN refbi rb ON d.a = rb.a AND d.b = rb.b
      LEFT JOIN refuni ru ON d.a = ru.a
      CROSS JOIN vocab v
    ),
    lmagg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(CAST(lp AS DECIMAL(20,12))) AS slp
      FROM lmscore GROUP BY doc_id
    ),
    fin AS (
      SELECT s.doc_id, lang_guess,
             floor((0.5 * least(1.0, nt / 64.0)
                   + 0.3 * (1.0 - CASE WHEN ln > 0 THEN np / ln ELSE 0.0 END)
                   + 0.2 * CASE WHEN nt > 0 THEN sw / nt ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS quality,
             floor((wsum / (1.0 + nt)) * 1000000.0 + 0.5) / 1000000.0 AS clf_logit,
             CAST(COALESCE(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             floor(CAST(g.slp AS DOUBLE) / g.n_bigrams * 1000000.0 + 0.5) / 1000000.0
               AS avg_logp
      FROM s LEFT JOIN lmagg g ON s.doc_id = g.doc_id
    ),
    -- CCNet head/middle/tail thresholds per language (late r14):
    -- exact interpolated quantiles over the ROUNDED avg_logp —
    -- bit-identical to Spark's percentile()
    ppq AS (
      SELECT lang_guess,
             quantile_cont(avg_logp, 1.0/3) AS t1,
             quantile_cont(avg_logp, 2.0/3) AS t2
      FROM fin WHERE avg_logp IS NOT NULL GROUP BY lang_guess
    )
    SELECT f.doc_id, f.lang_guess, f.quality, f.clf_logit,
           f.n_bigrams, f.avg_logp,
           CASE WHEN f.avg_logp IS NULL OR q.t1 IS NULL THEN 'none'
                WHEN f.avg_logp >= q.t2 THEN 'head'
                WHEN f.avg_logp >= q.t1 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM fin f LEFT JOIN ppq q ON f.lang_guess = q.lang_guess
    """


@query("lang_quality_docs", oracle=_lang_quality_oracle())
def lang_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language ID (marker vocabulary, deterministic tie-break) AND
    the quality heuristic (length/punct/stopword mix) from ONE token
    projection — the two per-doc scoring primitives the filter funnel
    composes, value-checked row by row here (the funnel's aggregate check
    alone could mask compensating errors) — plus the hashed-feature linear
    classifier logit (functions/text.py::clf_logit_t, the fasttext-style
    learned-quality shape; the oracle checks the logit because sigmoid is
    monotone — thresholding the logit IS thresholding the probability, and
    the logit stays in rational arithmetic both engines compute
    bit-identically) — plus (r4) the CCNet-style perplexity signal: a
    bigram LM trained on the doc_id-mod-11 reference slice
    (operators/lm.py — add-k smoothing, exact two-level OOV backoff,
    decimal-exact log-prob mean) scores every document; avg_logp is the
    monotone equivalent of perplexity, kept in log space so the oracle
    avoids a second transcendental."""
    from ..functions.text import clf_logit_t, quality_score_t
    from ..operators.lm import (
        perplexity_buckets,
        score_docs,
        train_bigram_lm,
    )

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # One token projection feeds the quality signals, LM training, and LM
    # scoring (tok_col pass-through) — tokenization is interpreted, so
    # re-deriving it per consumer would triple the dominant per-row cost.
    # persist(): the projection has >2 consumers (repo convention —
    # without it each branch re-scans and re-tokenizes the corpus).
    toks = docs.select("doc_id", "text", tokens("text").alias("tok")).persist()
    lm = train_bigram_lm(
        toks.filter(F.col("doc_id") % 11 == 0), k=0.5, tok_col="tok"
    )
    lm_scores = score_docs(toks, lm, tok_col="tok").select(
        "doc_id",
        "n_bigrams",
        round6(F.col("avg_logp")).alias("avg_logp"),
    )
    main = toks.select(
        "doc_id",
        lang_id_t("tok").alias("lang_guess"),
        round6(quality_score_t("text", "tok")).alias("quality"),
        round6(clf_logit_t("tok")).alias("clf_logit"),
    )
    fin = main.join(lm_scores, "doc_id", "left").select(
        "doc_id",
        "lang_guess",
        "quality",
        "clf_logit",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        "avg_logp",
    )
    # late r14: the CCNet head/middle/tail split over the ROUNDED
    # avg_logp, per language — the thresholds are exact interpolated
    # percentiles, bit-identical to the oracle's quantile_cont.
    # persist(): fin now has TWO consumers (the threshold aggregate
    # and the final bucket join) — without it the whole LM-scoring
    # lineage executes twice (repo convention)
    fin = fin.persist()
    return perplexity_buckets(fin, group_col="lang_guess")


# preset-section text minting (r12): the synthetic documents are
# punctuation-free word salad, which collapses the Gopher/C4 preset
# sections to one verdict each — a quarter of rows keep the raw text
# and the rest rotate through deterministic pages that light up the
# keep / bullet-ratio / page-drop paths in BOTH engines (the literals
# are injected verbatim into the SQL oracle and the Spark plan).
_PRESET_GOOD = (
    "the data and the model have that quality with more signal here.\n"
    * 5)
_PRESET_BULLET = (
    "the list of items with bullets goes on and on here.\n" * 2
    + "\u2022 bullet item\n" * 28)
_PRESET_LOREM = _PRESET_GOOD + "Lorem ipsum dolor sit amet here."

# late r14: minted source files for the `stack_code` section — each
# doc_id % 6 class 1-5 lands one failing verdict of the
# The-Stack-style funnel (operators/code_quality.py); class 0 keeps
# the document's own text, so the `keep` verdict is exercised by real
# prose digested identically on both engines. The literals are
# injected verbatim into BOTH the Spark plan and the SQL oracle,
# which re-derives every feature with its own list/regexp lambdas.
_CODE_MINIFIED = "var a=1;" * 160  # one 1280-char line
_CODE_HEX = ("key = 0x" + "deadbeef" * 8 + "\n") * 6 + "ok\n"
_CODE_AUTOGEN = ("# This file is auto-generated. DO NOT EDIT.\n"
                 + "x = 1\n" * 20)
_CODE_SPARSE = "}{;;;; ~~~ ++++ ----\n" * 10
_CODE_B64 = ("data = '" + "QUJD" * 20 + "'\n") * 5 + "tail\n"


def _filter_report_oracle() -> str:
    counts = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_sql_list(mks)}, x))) AS INT) AS c_{lang}"
        for lang, mks in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    whens = "\n                ".join(f"WHEN c_{lg} = best THEN '{lg}'" for lg in langs)

    def lit(x: str) -> str:
        return "'" + x.replace("'", "''") + "'"

    _lit_good = lit(_PRESET_GOOD)
    _lit_bullet = lit(_PRESET_BULLET)
    _lit_lorem = lit(_PRESET_LOREM)
    _norm_ptxt = _NORM.format(col="ptxt")

    # stack_code section inputs (late r14): the minted code literals
    # and the funnel's published patterns — the features themselves
    # are re-derived below with DuckDB's own list/regexp lambdas
    from ..operators.code_quality import (
        AUTOGEN_MARKERS,
        _B64_RUN,
        _HEX_RUN,
    )
    from ..functions.rounding import sql_round6

    _lit_mini = lit(_CODE_MINIFIED)
    _lit_hex = lit(_CODE_HEX)
    _lit_auto = lit(_CODE_AUTOGEN)
    _lit_sparse = lit(_CODE_SPARSE)
    _lit_b64 = lit(_CODE_B64)

    def _sc_frac(pattern: str) -> str:
        kept = (f"length(regexp_replace(ctxt, '{pattern}', '', 'g'))")
        return sql_round6(
            "CASE WHEN tot > 0 THEN "
            f"CAST(tot - {kept} AS DOUBLE) / tot ELSE 0.0 END")

    _sc_autogen = " OR ".join(
        f"contains(lower(substr(ctxt, 1, 2000)), '{mk}')"
        for mk in AUTOGEN_MARKERS)
    return f"""
    WITH n AS (
      SELECT doc_id, text, {_NORM.format(col="COALESCE(text, '')")} AS norm
      FROM documents
    ), t AS (
      SELECT doc_id, text, norm,
             CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
      FROM n
    ), c AS (
      SELECT doc_id, text, norm, toks,
             {counts}
      FROM t
    ), cb AS (
      SELECT *, {best} AS best FROM c
    ), feat AS (
      SELECT doc_id,
             CASE WHEN best = 0 THEN 'und'
                {whens}
                ELSE 'und' END AS lang_guess,
             CAST(len(toks) AS DOUBLE) AS nt,
             CAST(COALESCE(length(text), 0) AS DOUBLE) AS ln,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(EN_STOPWORDS)}, x))) AS DOUBLE) AS sw
      FROM cb
    ), scored AS (
      SELECT doc_id, lang_guess, nt,
             floor((0.5 * least(1.0, nt / 64.0)
                   + 0.3 * (1.0 - CASE WHEN ln > 0 THEN np / ln ELSE 0.0 END)
                   + 0.2 * CASE WHEN nt > 0 THEN sw / nt ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS q
      FROM feat
    ), verdicts AS (
      SELECT lang_guess, q,
             CASE WHEN nt < 10 THEN 'too_short'
                  WHEN nt > 1000 THEN 'too_long'
                  WHEN lang_guess = 'und' THEN 'unknown_lang'
                  WHEN q < 0.55 THEN 'low_quality'
                  ELSE 'keep' END AS verdict
      FROM scored
    )
    , funnel_section AS (
      SELECT 'funnel' AS section,
             lang_guess || '|' || verdict AS key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             floor((CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS metric
      FROM verdicts
      GROUP BY 1, 2
    ), pv AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 1 THEN {_lit_good}
               WHEN 2 THEN {_lit_bullet}
               WHEN 3 THEN {_lit_lorem}
               ELSE COALESCE(text, '') END AS ptxt
      FROM documents
    ), pt AS (
      SELECT doc_id, ptxt, {_norm_ptxt} AS pnorm FROM pv
    ), glines AS (
      SELECT doc_id,
             CASE WHEN pnorm = '' THEN []
                  ELSE string_split(pnorm, ' ') END AS toks,
             len(CASE WHEN pnorm = '' THEN []
                      ELSE string_split(pnorm, ' ') END) AS nw,
             ptxt AS txt,
             regexp_split_to_array(ptxt, '\r\n|\r|\n') AS lns
      FROM pt
    ), gfeat AS (
      SELECT doc_id, nw,
        CASE WHEN nw > 0
             THEN CAST(list_sum(list_transform(toks, w -> length(w)))
                       AS DOUBLE) / nw ELSE 0.0 END AS mean_len,
        length(txt) - length(replace(txt, '#', ''))
          + length(regexp_replace(txt, '\\.\\.\\.', '…', 'g'))
          - length(replace(regexp_replace(txt, '\\.\\.\\.', '…', 'g'),
                           '…', '')) AS n_sym,
        len(lns) AS n_lines,
        len(list_filter(lns, l -> starts_with(trim(l), '•')
              OR starts_with(trim(l), '-')
              OR starts_with(trim(l), '*'))) AS n_bullet,
        len(list_filter(lns, l -> ends_with(trim(l), '...')
              OR ends_with(trim(l), '…'))) AS n_ellip_lines,
        len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
          AS n_alpha,
        len(list_filter(['the','be','to','of','and','that','have',
                         'with'], sw -> list_contains(toks, sw)))
          AS n_stop
      FROM glines
    ), gverd AS (
      SELECT nw,
        CASE WHEN NOT (nw >= 50 AND nw <= 100000) THEN 'word_count'
             WHEN NOT (mean_len >= 3.0 AND mean_len <= 10.0)
               THEN 'mean_word_len'
             WHEN NOT (nw > 0 AND CAST(n_sym AS DOUBLE) / nw <= 0.1)
               THEN 'symbol_ratio'
             WHEN NOT (n_lines = 0
                       OR CAST(n_bullet AS DOUBLE) / n_lines <= 0.9)
               THEN 'bullet_lines'
             WHEN NOT (n_lines = 0
                       OR CAST(n_ellip_lines AS DOUBLE) / n_lines
                          <= 0.3)
               THEN 'ellipsis_lines'
             WHEN NOT (nw > 0 AND CAST(n_alpha AS DOUBLE) / nw >= 0.8)
               THEN 'alpha_words'
             WHEN NOT (n_stop >= 2) THEN 'stop_words'
             ELSE 'keep' END AS gv
      FROM gfeat
    ), gopher_section AS (
      SELECT 'gopher' AS section, gv AS key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nw) AS DOUBLE) / COUNT(*) AS metric
      FROM gverd GROUP BY 2
    ), c4l AS (
      SELECT doc_id, ptxt AS txt,
             list_filter(
               regexp_split_to_array(ptxt, '\r\n|\r|\n'),
               l -> (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                     OR ends_with(trim(l), '?')
                     OR ends_with(trim(l), '"')
                     OR ends_with(trim(l), '”'))
                    AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
                    AND NOT contains(lower(l), 'javascript')
                    AND NOT contains(lower(l), 'terms of use')
                    AND NOT contains(lower(l), 'privacy policy')
                    AND NOT contains(lower(l), 'cookie policy')
                    AND NOT contains(lower(l), 'uses cookies')
             ) AS kept
      FROM pv
    ), c4v AS (
      SELECT len(kept) AS nk,
             NOT (contains(lower(txt), 'lorem ipsum')
                  OR contains(txt, '{{') OR len(kept) < 3) AS pass
      FROM c4l
    ), c4_section AS (
      SELECT 'c4' AS section,
             CAST(pass AS VARCHAR) || '|'
               || CAST(least(nk, 5) AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nk) AS DOUBLE) / COUNT(*) AS metric
      FROM c4v GROUP BY 2
    ), sc0 AS (
      SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 1 THEN {_lit_mini}
               WHEN 2 THEN {_lit_hex}
               WHEN 3 THEN {_lit_auto}
               WHEN 4 THEN {_lit_sparse}
               WHEN 5 THEN {_lit_b64}
               ELSE COALESCE(text, '') END AS ctxt
      FROM documents
    ), sc1 AS (
      SELECT doc_id, ctxt,
             list_transform(string_split(ctxt, chr(10)),
                            x -> length(x)) AS lens,
             CAST(length(ctxt) AS BIGINT) AS tot
      FROM sc0
    ), sc2 AS (
      SELECT doc_id, ctxt, tot,
             len(lens) AS nl,
             COALESCE(list_aggregate(lens, 'max'), 0) AS maxl,
             COALESCE(list_sum(lens), 0) AS suml
      FROM sc1
    ), sc3 AS (
      SELECT doc_id, tot, maxl,
             {sql_round6("CASE WHEN nl > 0 THEN CAST(suml AS DOUBLE) / nl ELSE 0.0 END")} AS avgl,
             {_sc_frac('[A-Za-z0-9]')} AS alnumf,
             {_sc_frac(_HEX_RUN)} AS hexf,
             {_sc_frac(_B64_RUN)} AS b64f,
             ({_sc_autogen}) AS autog
      FROM sc2
    ), scv AS (
      SELECT maxl,
             CASE WHEN tot = 0 THEN 'empty'
                  WHEN maxl > 1000 THEN 'long_lines'
                  WHEN avgl > 100.0 THEN 'avg_line_len'
                  WHEN alnumf < 0.25 THEN 'low_alnum'
                  WHEN hexf > 0.4 THEN 'hex_blob'
                  WHEN b64f > 0.4 THEN 'b64_blob'
                  WHEN autog THEN 'autogenerated'
                  ELSE 'keep' END AS v
      FROM sc3
    ), stack_section AS (
      SELECT 'stack_code' AS section, v AS key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(maxl) AS DOUBLE) / COUNT(*) AS metric
      FROM scv GROUP BY 2
    )
    SELECT * FROM funnel_section
    UNION ALL
    SELECT * FROM gopher_section
    UNION ALL
    SELECT * FROM c4_section
    UNION ALL
    SELECT * FROM stack_section
    """


@query("corpus_filter_report", oracle=_filter_report_oracle())
def corpus_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining-corpus filter (C4/Gopher-style rule chain):
    length bounds → language known → quality threshold, first failing rule
    attributed, reported as (lang, verdict) counts with mean quality. One
    pass over the text (tokens projected once feed count, language, and
    quality), one aggregation shuffle — the shape that matters when the
    corpus is 100 TB and you want the filter funnel, not just the survivors."""
    from ..functions.text import quality_score_t

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = docs.select("doc_id", "text", tokens("text").alias("tok"))
    feat = toks.select(
        "doc_id",
        lang_id_t("tok").alias("lang_guess"),
        token_count_t("tok").cast("double").alias("nt"),
        round6(quality_score_t("text", "tok")).alias("q"),
    )
    verdict = (
        F.when(F.col("nt") < 10, "too_short")
        .when(F.col("nt") > 1000, "too_long")
        .when(F.col("lang_guess") == "und", "unknown_lang")
        .when(F.col("q") < 0.55, "low_quality")
        .otherwise("keep")
    )
    funnel_section = (
        feat.select("lang_guess", "q", verdict.alias("verdict"))
        .groupBy("lang_guess", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round6(
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("metric"),
        )
        .select(
            F.lit("funnel").alias("section"),
            F.concat_ws("|", "lang_guess", "verdict").alias("key"),
            "n_docs", "metric",
        )
    )

    # r12: the PUBLISHED preset rule chains next to the generic funnel
    # (operators/quality_presets.py) — Gopher first-fail verdicts and
    # the C4 line-filter outcome, both re-derived by the oracle's own
    # list lambdas. Metrics are exact-integer averages (sum/count), so
    # no float-rounding coordination is needed.
    from ..operators.quality_presets import c4_clean, gopher_flags

    minted = docs.select(
        "doc_id",
        F.when((F.col("doc_id") % 4).cast("int") == 1,
               F.lit(_PRESET_GOOD))
        .when((F.col("doc_id") % 4).cast("int") == 2,
              F.lit(_PRESET_BULLET))
        .when((F.col("doc_id") % 4).cast("int") == 3,
              F.lit(_PRESET_LOREM))
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("ptxt"),
    )
    gop = gopher_flags(minted, text_col="ptxt")
    gopher_section = gop.groupBy(
        F.col("gopher_verdict").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("g_n_words").cast("long"))
         .cast("double") / F.count(F.lit(1))).alias("metric"),
    ).select(F.lit("gopher").alias("section"), "key", "n_docs",
             "metric")

    c4 = c4_clean(minted, text_col="ptxt")
    c4_section = c4.groupBy(
        F.concat_ws(
            "|", F.col("c4_pass").cast("string"),
            F.least(F.col("c4_kept_lines"), F.lit(5)).cast("string"),
        ).alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("c4_kept_lines").cast("long")).cast("double")
         / F.count(F.lit(1))).alias("metric"),
    ).select(F.lit("c4").alias("section"), "key", "n_docs", "metric")

    # late r14: the The-Stack-style code funnel
    # (operators/code_quality.py) as a fourth section — minted
    # per-class source files, verdict counts with the mean max line
    # length as the metric (exact-integer average)
    from ..operators.code_quality import stack_filter

    code_minted = docs.select(
        "doc_id",
        F.when((F.col("doc_id") % 6).cast("int") == 1,
               F.lit(_CODE_MINIFIED))
        .when((F.col("doc_id") % 6).cast("int") == 2,
              F.lit(_CODE_HEX))
        .when((F.col("doc_id") % 6).cast("int") == 3,
              F.lit(_CODE_AUTOGEN))
        .when((F.col("doc_id") % 6).cast("int") == 4,
              F.lit(_CODE_SPARSE))
        .when((F.col("doc_id") % 6).cast("int") == 5,
              F.lit(_CODE_B64))
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("ctxt"),
    )
    sc = stack_filter(code_minted, text_col="ctxt")
    stack_section = sc.groupBy(
        F.col("cq_verdict").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("cq_max_line_len").cast("long")).cast("double")
         / F.count(F.lit(1))).alias("metric"),
    ).select(F.lit("stack_code").alias("section"), "key", "n_docs",
             "metric")

    return funnel_section.unionByName(gopher_section) \
        .unionByName(c4_section).unionByName(stack_section)


# The md5 content fingerprint (doc_fingerprint) is driver-verified through
# `dedup_exact_docs`, which groups BY that fingerprint and emits it.

# Incremental-dedup fixture: committed corpus = doc_id % 3 = 1, new batch =
# doc_id % 3 = 0 PLUS a planted exact twin of committed doc 1 (shifted id) —
# the synthetic data has no cross-split exact duplicates of its own, so the
# plant is what exercises the exact_dup verdict; the near_dup verdicts come
# from the data's real cross-split near-duplicate structure.
_INC_SIG_MINS = ",\n             ".join(
    f"min(md5('s{i}|' || shingle)) AS m{i}" for i in range(8)
)
_INC_BANDS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {i} AS band_idx, "
    f"md5(m{i * 2} || '|' || m{i * 2 + 1}) AS band_key FROM {{side}}sig"
    for i in range(4)
)
_INC_EQS = " + ".join(f"CAST(n.m{i} = c.m{i} AS INT)" for i in range(8))


def _inc_side_ctes(side: str, rel: str) -> str:
    """Shingle → signature → band CTEs for one side of the incremental
    dedup (mirrors operators/dedup.py::corpus_dedup_index +
    signature_bands: docs without shingles get no sig row, hence no
    bands; MIN needs no distinct)."""
    return f"""
    {side}toks AS (
      SELECT doc_id, string_split({_NORM.format(col='text')}, ' ') AS t
      FROM {rel}
    ),
    {side}sh AS (
      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM {side}toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS s(i)
    ),
    {side}sig AS (
      SELECT doc_id,
             {_INC_SIG_MINS}
      FROM {side}sh GROUP BY doc_id
    ),
    {side}band AS (
{_INC_BANDS.format(side=side)}
    )"""


# Line-dedup fixture: the synthetic text has no newlines, so both engines
# chunk each doc into 3-token lines first (identical arithmetic); the small
# vocabulary then yields ~1.4k naturally repeated cross-doc lines at
# sf0.01 — a real boilerplate population, nothing planted. The CTEs mirror
# operators/dedup.py::dedup_lines exactly: trim-eligible lines (>= 10
# chars), count DISTINCT docs per md5(trimmed line), keep the global
# (doc_id, idx)-first occurrence (encoded doc_id*10000+idx — idx < 10000
# by construction), rewrite by index filter.
_LINES_CTES = """
ltoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lchunked AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, CAST(ceil(len(t) / 3.0) AS BIGINT)),
                          i -> array_to_string(t[(i*3+1):(i*3+3)], ' ')),
           chr(10)) AS text
  FROM ltoks
),
lsplit AS (SELECT doc_id, text, string_split(text, chr(10)) AS L FROM lchunked),
lelig AS (
  SELECT doc_id, i AS idx, md5(trim(L[i+1])) AS k
  FROM lsplit, UNNEST(range(0, len(L))) AS s(i)
  WHERE length(trim(L[i+1])) >= 10
),
lfirst AS (
  SELECT k, MIN(doc_id * 10000 + idx) AS fk
  FROM lelig GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
),
lrm AS (
  SELECT e.doc_id, e.idx FROM lelig e JOIN lfirst f USING (k)
  WHERE e.doc_id * 10000 + e.idx <> f.fk
),
lrm_agg AS (
  SELECT doc_id, list(idx) AS ridx, COUNT(*) AS n_removed
  FROM lrm GROUP BY doc_id
),
lrewrite AS (
  -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's concat_ws
  -- over an empty array is '' — a fully-scrubbed doc must hash as ''.
  SELECT s.doc_id,
         COALESCE(array_to_string(
           list_transform(
             list_filter(range(0, len(s.L)), i -> NOT list_contains(r.ridx, i)),
             i -> s.L[i+1]),
           chr(10)), '') AS new_text,
         len(s.L) AS n_lines, r.n_removed AS n_removed
  FROM lsplit s JOIN lrm_agg r USING (doc_id)
)"""


_DEDUP_DOCS_ORACLE = f"""
WITH groups AS (
  SELECT md5({_NORM.format(col='text')}) AS fingerprint,
         CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM documents
  GROUP BY 1
),
committed AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id = 1
),
cfp AS (SELECT doc_id, md5({_NORM.format(col='text')}) AS f FROM committed),
nfp AS (SELECT doc_id, md5({_NORM.format(col='text')}) AS f FROM newdocs),
{_inc_side_ctes('c', 'committed')},
{_inc_side_ctes('n', 'newdocs')},
exact AS (
  SELECT n.doc_id, CAST(MIN(c.doc_id) AS BIGINT) AS x_dup_of
  FROM nfp n JOIN cfp c ON n.f = c.f GROUP BY 1
),
cand AS (
  SELECT DISTINCT n.doc_id, c.doc_id AS c_id
  FROM nband n JOIN cband c USING (band_idx, band_key)
),
scored AS (
  SELECT cand.doc_id, cand.c_id,
         floor((({_INC_EQS}) / 8.0) * 1000000.0 + 0.5) / 1000000.0 AS est
  FROM cand
  JOIN nsig n ON n.doc_id = cand.doc_id
  JOIN csig c ON c.doc_id = cand.c_id
  WHERE floor((({_INC_EQS}) / 8.0) * 1000000.0 + 0.5) / 1000000.0 >= 0.25
),
best AS (SELECT doc_id, MAX(est) AS est FROM scored GROUP BY 1),
near AS (
  SELECT s.doc_id, CAST(MIN(s.c_id) AS BIGINT) AS n_dup_of, b.est
  FROM scored s JOIN best b ON s.doc_id = b.doc_id AND s.est = b.est
  GROUP BY s.doc_id, b.est
),
verdicts AS (
  SELECT nd.doc_id,
         CASE WHEN e.x_dup_of IS NOT NULL THEN 'exact_dup'
              WHEN nr.n_dup_of IS NOT NULL THEN 'near_dup'
              ELSE 'kept' END AS verdict,
         COALESCE(e.x_dup_of, nr.n_dup_of) AS dup_of,
         CASE WHEN e.x_dup_of IS NULL THEN nr.est END AS est_jaccard
  FROM newdocs nd
  LEFT JOIN exact e ON e.doc_id = nd.doc_id
  LEFT JOIN near nr ON nr.doc_id = nd.doc_id
),
{_LINES_CTES.lstrip()}
SELECT 'groups' AS section, fingerprint, canonical_id, n_copies,
       CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS verdict,
       CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS est_jaccard
FROM groups
UNION ALL
SELECT 'incremental', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), doc_id, verdict, dup_of,
       CAST(est_jaccard AS DOUBLE)
FROM verdicts
UNION ALL
SELECT 'lines', md5(new_text), CAST(n_lines AS BIGINT),
       CAST(n_removed AS BIGINT), doc_id, CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM lrewrite
"""


@query("dedup_exact_docs", oracle=_DEDUP_DOCS_ORACLE)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two dedup surfaces under one oracle row. `groups`: exact dedup as a
    hash-groupBy on the content fingerprint — only (fingerprint, id) pairs
    shuffle, document bodies never move. `incremental` (r8): the
    continuous-ingest shape — a committed corpus (doc_id % 3 = 1 — one third of the table, enough for every verdict kind while keeping the per-shingle md5 volume off the bench critical path) is
    reduced ONCE to its dedup index (operators/dedup.py::
    corpus_dedup_index — fingerprint + MinHash signature per doc, one
    join-free groupBy) and the new batch (doc_id % 3 = 0, plus a planted
    exact twin of committed doc 1) gets per-doc verdicts from
    dedup_against_index: exact fingerprint hit, LSH-band near-dup scored
    ≥ 0.25 with best-match attribution, or kept. Every probe join
    broadcasts the delta side; the index never shuffles
    (tests/test_operators.py pins the plan). `lines` (r8): the
    C4/RefinedWeb line-level scrub (operators/dedup.py::dedup_lines) —
    each doc chunked into 3-token lines (the synthetic text has no
    newlines; the small vocabulary gives ~1.4k naturally repeated
    cross-doc lines at sf0.01), any trimmed line appearing in >= 2
    distinct docs removed everywhere but its global first occurrence;
    per-doc rows carry md5(rewritten text) in `fingerprint` (byte-exact
    rewrite check), original line count in `canonical_id`, and removal
    count in `n_copies` (tag-union column reuse, as with the other
    sections)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    from ..operators.dedup import (
        corpus_dedup_index,
        dedup_against_index,
        dedup_lines,
    )

    groups = exact_duplicates(docs).select(
        F.lit("groups").alias("section"),
        "fingerprint",
        "canonical_id",
        "n_copies",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("verdict"),
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("est_jaccard"),
    )
    committed = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    new_batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") == 1).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    # Persist the delta-sized index (the three probe joins reuse it
    # within the driver's one collect); released by the session's
    # clearCache like semantic_neardup's cached assignment.
    new_idx = corpus_dedup_index(new_batch).persist()
    verdicts = dedup_against_index(
        new_batch,
        corpus_dedup_index(committed),
        threshold=0.25,
        new_index=new_idx,
    ).select(
        F.lit("incremental").alias("section"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.lit(None).cast("long").alias("canonical_id"),
        F.lit(None).cast("long").alias("n_copies"),
        "doc_id",
        "verdict",
        "dup_of",
        "est_jaccard",
    )

    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(3.0)).cast("int")
    chunked = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i * F.lit(3) + F.lit(1), 3)),
        ),
    )
    lines_sec = (
        dedup_lines(
            docs.select("doc_id", chunked.alias("text")),
            min_line_chars=10,
            min_docs=2,
        )
        .filter(F.col("n_removed") > 0)
        .select(
            F.lit("lines").alias("section"),
            F.md5("text").alias("fingerprint"),
            F.col("n_lines").alias("canonical_id"),
            F.col("n_removed").alias("n_copies"),
            "doc_id",
            F.lit(None).cast("string").alias("verdict"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
    )
    return groups.unionByName(verdicts).unionByName(lines_sec)


# Shared shingle CTE for the Jaccard/MinHash oracles (k=3 word shingles over
# docs with doc_id % 5 = 0; range bound 4000 safely exceeds max token count).
_SHINGLES_CTE = f"""
    WITH docs AS (
      SELECT doc_id, {_NORM.format(col='text')} AS norm
      FROM documents WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, range(1, 4000) r(i)
      WHERE i <= len(t) - 2
    )
"""


_NGRAM_JACCARD_CTES = """
    , hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 1000),
    shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact_pairs AS (
    SELECT doc_a, doc_b,
           floor((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE floor((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 1000000.0 + 0.5) / 1000000.0 >= 0.02
    )
"""


def _minhash_oracle(num_hashes: int = 8, band_size: int = 2, threshold: float = 0.25) -> str:
    mins = ",\n             ".join(
        f"min(md5('s{i}|' || shingle)) AS m{i}" for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {i} AS band_idx, "
        f"md5(m{i * band_size} || '|' || m{i * band_size + 1}) AS band_key FROM sig"
        for i in range(n_bands)
    )
    eqs = " + ".join(
        f"CAST(x.m{i} = y.m{i} AS INT)" for i in range(num_hashes)
    )
    return (
        _SHINGLES_CTE
        + _NGRAM_JACCARD_CTES
        + f"""
    , sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ), banded AS (
{band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), minhash_pairs AS (
    SELECT doc_a, doc_b,
           floor((({eqs}) / {float(num_hashes)}) * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
    FROM cand
    JOIN sig x ON x.doc_id = doc_a
    JOIN sig y ON y.doc_id = doc_b
    WHERE ({eqs}) / {float(num_hashes)} >= {threshold}
    )
    SELECT 'ngram_exact' AS method, doc_a, doc_b, jaccard AS score
    FROM exact_pairs
    UNION ALL
    SELECT 'minhash_lsh', doc_a, doc_b, est_jaccard FROM minhash_pairs
    """
    )


@query("jaccard_pairs_methods", oracle=_minhash_oracle())
def jaccard_pairs_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both Jaccard-family near-dup detectors under one driver row (r6
    consolidation of `dedup_ngram_jaccard` + `dedup_minhash_lsh` — same
    shingle relation, same (doc_a, doc_b, score) pair shape).

    `ngram_exact`: exact n-gram Jaccard via shingle-join candidate
    generation (never a cross join) with the stop-shingle df cap active —
    shingles in >1000 docs are dropped before the self-join (the skew
    guard; the oracle mirrors the identical cap). `minhash_lsh`: MinHash
    signature per doc (one groupBy) + banding → equi-join candidates —
    the sub-quadratic 100 TB path, whose estimate the exact section
    calibrates."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True).filter(
        F.col("doc_id") % 5 == 0
    )
    exact = ngram_jaccard_pairs(docs, k=3, threshold=0.02, max_shingle_df=1000).select(
        F.lit("ngram_exact").alias("method"),
        "doc_a",
        "doc_b",
        F.col("jaccard").alias("score"),
    )
    mh = minhash_lsh_pairs(
        docs, k=3, num_hashes=8, band_size=2, threshold=0.25
    ).select(
        F.lit("minhash_lsh").alias("method"),
        "doc_a",
        "doc_b",
        F.col("est_jaccard").alias("score"),
    )
    return exact.unionByName(mh)


# ---------------------------------------------------------------------------
# Capstone under the oracle: the end-to-end curation composition (r5)
# ---------------------------------------------------------------------------


def _redact_sql(col: str) -> str:
    """DuckDB mirror of functions/pii.py::redact_pii (same chain/order)."""
    from ..functions.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return (
        "regexp_replace(regexp_replace(regexp_replace(" + col
        + ", '" + EMAIL_RE + "', '[EMAIL]', 'g')"
        + ", '" + IPV4_RE + "', '[IP]', 'g')"
        + ", '" + PHONE_RE + "', '[PHONE]', 'g')"
    )


_CURATE_DOMAIN_CAP = 10  # bites at sf0.001 already (per-source survivors)


def _curation_report_oracle() -> str:
    counts = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_sql_list(mks)}, x))) AS INT) AS c_{lang}"
        for lang, mks in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    whens = "\n                ".join(
        f"WHEN c_{lg} = best THEN '{lg}'" for lg in langs
    )
    bucket = (
        "(strpos('0123456789abcdef', substr(md5('corpus:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5('corpus:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    ), rb AS (
      -- r13 robots pre-filter: the planted per-host rule set disallows
      -- /private/ and the minted URL puts doc_id % 4 == 0 there; the
      -- REP decision itself is value-verified in url_compliance_docs,
      -- so the oracle carries the hand-derived outcome
      SELECT doc_id, text FROM corpus WHERE doc_id % 4 <> 0
    ), n AS (
      SELECT doc_id, text, {_NORM.format(col="COALESCE(text, '')")} AS norm,
             {_redact_sql('text')} AS clean_text
      FROM rb
    ), t AS (
      SELECT doc_id, text, norm, clean_text,
             CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks,
             {_NORM.format(col='clean_text')} AS cnorm
      FROM n
    ), c AS (
      SELECT *, {counts} FROM t
    ), b AS (
      SELECT *, {best} AS best FROM c
    ), feat AS (
      SELECT doc_id, cnorm, md5(norm) AS fingerprint,
             CASE WHEN best = 0 THEN 'und'
                {whens}
                ELSE 'und' END AS lang,
             CAST(CASE WHEN cnorm = '' THEN 0
                       ELSE len(string_split(cnorm, ' ')) END AS INT) AS n_tokens,
             (0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 64.0)
              + 0.3 * (1.0 - CASE WHEN COALESCE(length(text), 0) > 0
                       THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                            / length(text) ELSE 0.0 END)
              + 0.2 * CASE WHEN len(toks) > 0
                       THEN CAST(len(list_filter(toks, x -> list_contains({_sql_list(EN_STOPWORDS)}, x))) AS DOUBLE)
                            / len(toks) ELSE 0.0 END) AS quality
      FROM b
    ), kept AS (
      SELECT * FROM feat
      WHERE n_tokens >= 10 AND n_tokens <= 1000 AND lang <> 'und' AND quality >= 0.55
    ), surv AS (
      SELECT * FROM kept
      QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    ), bench AS (
      SELECT DISTINCT array_to_string(bt[i:i+2], ' ') AS g
      FROM (
        SELECT CASE WHEN bn = '' THEN [] ELSE string_split(bn, ' ') END AS bt
        FROM (SELECT {_NORM.format(col=_redact_sql('text'))} AS bn
              FROM documents WHERE doc_id % 97 = 0)
      ), UNNEST(range(1, greatest(len(bt) - 1, 1))) AS s(i)
    ), sgrams AS (
      SELECT doc_id, array_to_string(ct[i:i+2], ' ') AS g
      FROM (
        SELECT doc_id,
               CASE WHEN cnorm = '' THEN [] ELSE string_split(cnorm, ' ') END AS ct
        FROM surv
      ), UNNEST(range(1, greatest(len(ct) - 1, 1))) AS u(i)
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM sgrams JOIN bench USING (g)
    ), decon AS (
      SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), dcap AS (
      -- r13 domain cap: the minted URL's PSL registrable domain is
      -- source || '.example.org' BY CONSTRUCTION (rules org +
      -- example.org fold the www. variants in); the PSL evaluation is
      -- value-verified in url_compliance_docs, so the oracle derives
      -- the group directly and replays the content-stable cap rank
      SELECT decon.*, doc.source AS src
      FROM decon JOIN documents doc USING (doc_id)
    ), capped AS (
      SELECT * FROM dcap
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY src
        ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
      ) <= {_CURATE_DOMAIN_CAP}
    ), sampled AS (
      SELECT * FROM capped
      WHERE {bucket} < CASE lang WHEN 'en' THEN 128 WHEN 'fr' THEN 64
                                 WHEN 'es' THEN 64 ELSE 256 END
    )
    SELECT 'input' AS stage, CAST((SELECT COUNT(*) FROM corpus) AS BIGINT) AS n_docs
    UNION ALL SELECT 'robots', (SELECT COUNT(*) FROM rb)
    UNION ALL SELECT 'funnel', (SELECT COUNT(*) FROM kept)
    UNION ALL SELECT 'exact_dedup', (SELECT COUNT(*) FROM surv)
    UNION ALL SELECT 'decontam', (SELECT COUNT(*) FROM decon)
    UNION ALL SELECT 'domain_cap', (SELECT COUNT(*) FROM capped)
    UNION ALL SELECT 'stratified_sample', (SELECT COUNT(*) FROM sampled)
    UNION ALL SELECT 'packed', (SELECT COUNT(*) FROM sampled)
    """


@query("corpus_curation_report", oracle=_curation_report_oracle())
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition itself under the DuckDB oracle (r5): run
    corpus.py::curate_corpus end-to-end — funnel → PII scrub → exact dedup
    → benchmark decontamination → stratified sampling → packing — with the
    doc_id-mod-97 slice as the held-out benchmark, and return its per-stage
    audit report. The oracle re-derives every stage count in SQL: n_tokens
    on the REDACTED text (the packer's budget basis), min-id survivor per
    fingerprint, 3-gram overlap vs the redacted benchmark, and the
    salt='corpus:' md5-bucket language rates. 'packed' equals
    'stratified_sample' by construction — concat-and-cut packing is
    row-preserving, and the oracle pins that invariant.

    r13 (VERDICT r12 item 2): the run now exercises the crawl-
    compliance wiring too — a ``robots`` pre-filter stage (minted URLs
    put doc_id%4==0 under a planted /private/ Disallow; the REP
    decision itself is value-verified in url_compliance_docs, so the
    oracle carries the hand-derived outcome) and a ``domain_cap``
    stage grouped by EXACT PSL registrable domain (rules org +
    example.org fold the www. variants; the oracle derives the group
    by construction and replays the content-stable cap rank)."""
    from ..corpus import curate_corpus
    from ..operators.robots import parse_robots

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    is_bench = F.col("doc_id") % 97 == 0
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("www."))
        .otherwise(F.lit("")),
        F.col("source"), F.lit(".example.org"),
    )
    url = F.concat(
        F.lit("https://"), host,
        F.when(F.col("doc_id") % 4 == 0, F.lit("/private/"))
        .otherwise(F.lit("/p/")),
        F.col("doc_id").cast("string"),
    )
    robots_rules = parse_robots(
        docs.select(host.alias("host")).distinct().withColumn(
            "payload",
            F.lit("User-agent: *\nDisallow: /private/\n")))
    psl = spark.createDataFrame(
        [("org",), ("example.org",)], "rule string")
    out = curate_corpus(
        docs.filter(~is_bench).withColumn("url", url),
        benchmark=docs.filter(is_bench),
        min_tokens=10,
        max_tokens=1000,
        quality_min=0.55,
        lang_rates={"en": 128, "fr": 64, "es": 64},
        decontam_n=3,
        pack_budget=2048,
        n_shards=16,
        audit=True,
        url_col="url",
        robots_rules=robots_rules,
        domain_cap=_CURATE_DOMAIN_CAP,
        psl=psl,
    )
    return out["report"]


# ---------------------------------------------------------------------------
# BPE tokenizer: distributed training + corpus encode under the oracle
# ---------------------------------------------------------------------------

_BPE_MERGES = 4


def _bpe_oracle(n_merges: int = _BPE_MERGES) -> str:
    """Unrolled-round mirror of train_merges + bpe_encode_corpus.

    The SQL reproduces leftmost-non-overlapping pair merging WITHOUT a
    fold: tokens are joined into a DOUBLE-space-separated string
    ('  t1  t2  ...  tn  '), and one merge round is a single
    replace(s, ' a  b ', ' a<SEP>b ') — each match consumes one space from
    the two-space gap on each side, so gap integrity is preserved and
    left-to-right non-overlapping replace() semantics coincide exactly
    with the engine's fold (operators/bpe.py::apply_merge_t; the 'a a a'
    overlap case and adjacent-occurrence chains both agree). Each round's
    winning pair is the same top-1 (count DESC, a, b) the engine's
    train_merges collects, expressed as scalar subqueries, with the
    engine's n_pairs >= 2 stopping rule as a no-op CASE."""
    from ..operators.bpe import SEP

    norm = _NORM.format(col="COALESCE(text, '')")
    parts = [f"""
    WITH base AS (SELECT doc_id, {norm} AS norm FROM documents),
    t0 AS (
      SELECT doc_id,
             CASE WHEN norm = '' THEN ''
                  ELSE '  ' || array_to_string(string_split(norm, ' '), '  ') || '  '
             END AS s
      FROM base
    )"""]
    for r in range(n_merges):
        parts.append(f""",
    tk{r} AS (
      SELECT doc_id,
             CASE WHEN trim(s) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(trim(s), '  ') END AS ts
      FROM t{r}
    ),
    p{r} AS (
      SELECT ts[i] AS a, ts[i + 1] AS b
      FROM tk{r}, UNNEST(range(1, len(ts))) AS u(i)
      WHERE len(ts) >= 2
    ),
    top{r} AS (
      SELECT a, b FROM p{r} GROUP BY a, b
      HAVING COUNT(*) >= 2
      ORDER BY COUNT(*) DESC, a, b LIMIT 1
    ),
    t{r + 1} AS (
      SELECT doc_id,
             CASE WHEN (SELECT COUNT(*) FROM top{r}) = 0 THEN s
                  ELSE replace(s,
                       ' ' || (SELECT a FROM top{r}) || '  ' || (SELECT b FROM top{r}) || ' ',
                       ' ' || (SELECT a FROM top{r}) || '{SEP}' || (SELECT b FROM top{r}) || ' ')
             END AS s
      FROM t{r}
    )""")
    parts.append(f"""
    SELECT doc_id,
           CAST(CASE WHEN trim(s) = '' THEN 0
                     ELSE len(string_split(trim(s), '  ')) END AS INT) AS n_tokens_enc,
           md5(CASE WHEN trim(s) = '' THEN ''
                    ELSE array_to_string(string_split(trim(s), '  '), ' ') END) AS tok_fp
    FROM t{n_merges}
    """)
    return "".join(parts)


@query("bpe_train_encode", oracle=_bpe_oracle())
def bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + full-corpus encode under the
    driver oracle (operators/bpe.py). Training: {m} rounds, each ONE
    partial-aggregated pair-count shuffle (the exchange carries
    (pair, partial_count) — never raw text) + a top-1 collect (O(1)
    control data) + a map-side merge fold; encode re-applies the learned
    list with bounded fold depth. The oracle retrains the identical merge
    sequence in SQL and compares every doc's encoded token stream by
    count + fingerprint — merged tokens never contain spaces, so the
    single-space join is unambiguous."""
    from ..operators.bpe import bpe_encode_corpus, train_merges

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    tok_docs = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("tok")
    )
    merges = train_merges(tok_docs, n_merges=_BPE_MERGES)
    enc = bpe_encode_corpus(tok_docs, merges)
    return enc.select(
        "doc_id",
        F.size("tok").cast("int").alias("n_tokens_enc"),
        F.md5(F.array_join("tok", " ")).alias("tok_fp"),
    )


bpe_train_encode.__doc__ = bpe_train_encode.__doc__.format(m=_BPE_MERGES)


# ---------------------------------------------------------------------------
# Quality-classifier training (distributed logistic regression) under oracle
# ---------------------------------------------------------------------------

_CLF_ROUNDS = 3
_CLF_LR = 2.0
_CLF_GRID = 1 << 20


def _clf_bucket_sql(x: str) -> str:
    """DuckDB mirror of operators/quality_clf.py::tok_bucket."""
    return (
        f"((strpos('0123456789abcdef', substr(md5({x}), 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(md5({x}), 2, 1)) - 1))"
    )


def _clf_oracle(n_rounds: int = _CLF_ROUNDS) -> str:
    """Unrolled-round mirror of train_quality_clf (full batch).

    Exactness contract: the engine trains with weight_grid=2**20, so after
    every round each weight/bias is a dyadic rational k/2^20 exactly
    representable in double — per-doc logit sums are then EXACT regardless
    of token order or engine summation order, and every gradient/loss sum
    accumulates in DECIMAL(28,18). The only cross-engine float surfaces
    left are exp/ln on identical inputs (deterministic per fixture) and
    the double products mirrored operation-for-operation below."""
    norm = _NORM.format(col="COALESCE(text, '')")
    lr, grid = _CLF_LR, _CLF_GRID
    parts = [f"""
    WITH cbase AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             CASE WHEN {norm} = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split({norm}, ' ') END AS ts
      FROM documents
    ),
    cstat AS (SELECT doc_id, y, len(ts) AS n FROM cbase),
    ctb AS (
      SELECT doc_id, {_clf_bucket_sql('tok')} AS b
      FROM cbase, UNNEST(ts) AS u(tok)
    ),
    cm AS (SELECT COUNT(*) AS m FROM cstat),
    w0 AS (SELECT CAST(i AS INT) AS b, 0.0 AS w FROM range(256) t(i)),
    bs0 AS (SELECT 0.0 AS v)"""]
    for r in range(n_rounds):
        parts.append(f""",
    z{r} AS (
      SELECT s.doc_id, s.y, s.n,
             COALESCE(ws.wsum, 0.0) / (1.0 + CAST(s.n AS DOUBLE))
             + (SELECT v FROM bs{r}) AS z
      FROM cstat s LEFT JOIN (
        SELECT ctb.doc_id, SUM(w.w) AS wsum
        FROM ctb JOIN w{r} w ON ctb.b = w.b GROUP BY ctb.doc_id
      ) ws ON s.doc_id = ws.doc_id
    ),
    pr{r} AS (SELECT doc_id, y, n, 1.0 / (1.0 + exp(-z)) AS p FROM z{r}),
    hd{r} AS (
      SELECT SUM(CAST(p - y AS DECIMAL(28,18))) AS g_bias,
             SUM(CAST(-(y * ln(greatest(p, 1e-12))
                        + (1.0 - y) * ln(greatest(1.0 - p, 1e-12)))
                 AS DECIMAL(28,18))) AS loss
      FROM pr{r}
    ),
    gr{r} AS (
      SELECT ctb.b,
             SUM(CAST((pp.p - pp.y) * (1.0 / (1.0 + CAST(pp.n AS DOUBLE)))
                 AS DECIMAL(28,18))) AS g
      FROM ctb JOIN pr{r} pp ON ctb.doc_id = pp.doc_id
      GROUP BY ctb.b
    ),
    w{r + 1} AS (
      SELECT w.b,
             floor((w.w - {lr} * (CAST(COALESCE(g.g, 0) AS DOUBLE)
                                  / (SELECT m FROM cm))) * {grid} + 0.5) / {grid} AS w
      FROM w{r} w LEFT JOIN gr{r} g ON w.b = g.b
    ),
    bs{r + 1} AS (
      SELECT floor(((SELECT v FROM bs{r})
                    - {lr} * CAST((SELECT g_bias FROM hd{r}) AS DOUBLE)
                      / (SELECT m FROM cm)) * {grid} + 0.5) / {grid} AS v
    )""")
    loss_rows = "\n    UNION ALL\n".join(
        f"""    SELECT 'loss', {r},
           floor((CAST((SELECT loss FROM hd{r}) AS DOUBLE)
                  / (SELECT m FROM cm)) * 1000000.0 + 0.5) / 1000000.0"""
        for r in range(n_rounds)
    )
    parts.append(f"""
    SELECT 'weight' AS section, b AS k, w AS v FROM w{n_rounds}
    UNION ALL
    SELECT 'bias', -1, (SELECT v FROM bs{n_rounds})
    UNION ALL
{loss_rows}
    """)
    return "".join(parts)


@query("quality_clf_training", oracle=_clf_oracle())
def quality_clf_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training
    (operators/quality_clf.py::train_quality_clf) under the driver oracle:
    {r} full-batch rounds learning "is this document English?" from hashed
    bag-of-words features (weak supervision from the lang column — the
    standard quality/language-classifier recipe). Per round ONE ≤256-key
    gradient shuffle; corpus text never moves; the driver folds O(k)
    floats. Trained with weight_grid=2**20 so the weights are dyadic and
    the oracle can replay every round exactly (see _clf_oracle). Output:
    the 256 learned weights + bias + per-round mean log-loss — the model
    itself is the verified relation."""
    import math as _math

    from ..operators.quality_clf import train_quality_clf

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    labeled = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("tok"),
    )
    model = train_quality_clf(
        labeled,
        label_col="y",
        tok_col="tok",
        n_rounds=_CLF_ROUNDS,
        learning_rate=_CLF_LR,
        weight_grid=_CLF_GRID,
    )
    rows = [("weight", b, float(w)) for b, w in enumerate(model["weights"])]
    rows.append(("bias", -1, float(model["bias"])))
    rows.extend(
        ("loss", i, _math.floor(l * 1e6 + 0.5) / 1e6)
        for i, l in enumerate(model["loss_history"])
    )
    return spark.createDataFrame(rows, "section string, k int, v double")


quality_clf_training.__doc__ = quality_clf_training.__doc__.format(r=_CLF_ROUNDS)


# ---------------------------------------------------------------------------
# Document chunking (long docs → overlapping token windows)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 24
_CHUNK_OVERLAP = 4
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@query(
    "chunk_documents_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(norm, ' ') END AS ts
      FROM (SELECT doc_id, {_NORM.format(col='text')} AS norm FROM documents)
    ),
    sized AS (
      SELECT doc_id, ts, len(ts) AS n,
             greatest(CAST(ceil((len(ts) - {_CHUNK_OVERLAP}) / {_CHUNK_STRIDE}.0) AS BIGINT), 1) AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(i * {_CHUNK_STRIDE} + 1 AS INT) AS start_token,
           CAST(least(n - i * {_CHUNK_STRIDE}, {_CHUNK_TOKENS}) AS INT) AS n_tokens,
           array_to_string(list_slice(ts, CAST(i * {_CHUNK_STRIDE} + 1 AS INT),
                                      CAST(i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS} AS INT)), ' ') AS chunk
    FROM sized, UNNEST(range(0, n_chunks)) AS u(i)
    WHERE n > 0
    """,
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (operators/chunking.py) under the driver oracle:
    every doc cut into {ct}-token windows with {co} tokens of overlap,
    provenance kept (chunk_idx, start_token, span) and the chunk TEXT
    itself compared byte-for-byte. Tokens are projected once; chunk starts
    come from a sequence() stride; the explode fans out in-partition — no
    shuffle, no UDF, linear in corpus size. The inverse direction of
    sequence packing (one long doc → many bounded windows); pipelines run
    chunking then packing."""
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


chunk_documents_windows.__doc__ = chunk_documents_windows.__doc__.format(
    ct=_CHUNK_TOKENS, co=_CHUNK_OVERLAP
)
