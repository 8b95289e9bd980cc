"""Corpus-curation queries: PII redaction, benchmark decontamination, and
stratified source sampling.

These are the LLM-data-pipeline steps a 100 TB curation run layers on top of
the reference's capture ETL (fetch_youtube_data.py:129-200 captures and
normalizes the raw records; curation then decides what ships): strip PII,
drop eval-set contamination, and rebalance the language/source mix. Every
query is a pure-Column plan with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.markup import (
    sql_strip_markup,
    sql_tag_count,
    strip_markup,
    tag_count,
)
from ..functions.pii import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    email_count,
    ipv4_count,
    phone_count,
    redact_pii,
)
from ..functions.rounding import round6, sql_round6
from ..functions.unicodefns import (
    mojibake_count,
    normalize_unicode,
    sql_mojibake_count,
    sql_normalize_unicode,
)
from ..operators.decontam import ngram_contamination
from ..sources.tables import load_table
from .registry import query

# ---------------------------------------------------------------------------
# PII detection + redaction (documents)
# ---------------------------------------------------------------------------

# The synthetic corpus contains no contact strings, so the query plants
# deterministic PII derived from doc_id on a subset of docs (different
# moduli → emails/IPs/phones appear independently and sometimes together),
# then detects and redacts it. Both engines build the identical augmented
# text, so the oracle checks the real detection/redaction machinery with a
# non-trivial, varying signal.

# Planted unicode damage for the normalize_unicode section (r8): cp1252
# mojibake (incl. the U+201D artifact whose third byte is the C1 control
# \x9d), fullwidth ASCII + ideographic space, and invisible/typographic
# codepoints — on different moduli so docs carry each class independently
# and sometimes together. No straight apostrophes (keeps the SQL literal
# quoting trivial).
_DMG_MOJI = " donâ€™t â€œmixâ€\x9d cafÃ©"
_DMG_FW = " ＦＵＬＬ　ｗｉｄｅ！"
_DMG_ZW = " in​vis‌ible﻿ ‘q’ – …"

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                 || '.' || CAST((doc_id * 7) % 200 AS VARCHAR)
                 || '.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                 || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END AS t
  FROM documents
)
, html AS (
  SELECT doc_id, t,
    '<div class="doc">'
    || CASE WHEN doc_id % 2 = 0
            THEN '<script type="text/js">var x = 1 < 2;</script>' ELSE '' END
    || '<p>' || text || '</p>'
    || CASE WHEN doc_id % 4 = 0
            THEN '<!-- hidden --><style>p ' || chr(123) || 'color: red' || chr(125) || '</style>'
            ELSE '' END
    || '&amp;lt;tail&gt; &nbsp;</div>' AS h
  FROM aug JOIN documents USING (doc_id)
)
, dmg AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 2 = 0 THEN '{_DMG_MOJI}' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN '{_DMG_FW}' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '{_DMG_ZW}' ELSE '' END AS u
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INT)  AS n_emails,
       CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS INT)   AS n_ipv4,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS INT)  AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
            '{EMAIL_RE}', '[EMAIL]', 'g'),
            '{IPV4_RE}', '[IP]', 'g'),
            '{PHONE_RE}', '[PHONE]', 'g'))                    AS redacted_fp,
       {sql_tag_count('h')}                                   AS n_tags,
       md5({sql_strip_markup('h')})                           AS stripped_fp,
       {sql_mojibake_count('u')}                              AS n_mojibake,
       md5({sql_normalize_unicode('u', collapse_ws=True)})    AS normalized_fp
FROM html JOIN dmg USING (doc_id)
"""


@query("pii_redact_docs", oracle=_PII_ORACLE)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document scrubbing over the corpus: PII detection/redaction, HTML
    boilerplate stripping (late r6, functions/markup.py), and unicode
    normalization / mojibake repair (r8, functions/unicodefns.py) in one
    map-only pass. The oracle compares md5 fingerprints of all scrubbed
    texts, proving byte-identical transformation without hauling bodies
    through the driver. Each doc gets deterministic planted unicode
    damage (cp1252 mojibake incl. the C1-\\x9d artifact, fullwidth ASCII,
    zero-width/typographic codepoints on independent moduli) so repair
    order, the translate table, and control stripping are value-checked
    on varying input. Each doc is wrapped in deterministic planted
    markup (script/comment/style blocks on different moduli, an
    entity-escaped tail) so the strip pipeline's order — elements,
    comments, tags, entities-with-&amp;-last, whitespace — is value-checked
    on varying input. Map-only (no shuffle) — the 100 TB cost is one
    codegen'd scan, and the scrubbed columns ship in the same pass
    (rebalance spreads the regex compute off the single-row-group input)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" reach user"), did.cast("string"), F.lit("@mail.example")),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200).cast("string"),
                F.lit("."),
                ((did * 7) % 200).cast("string"),
                F.lit("."),
                (did % 250).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                (did % 900 + 100).cast("string"),
                F.lit("-"),
                (did % 9000 + 1000).cast("string"),
            ),
        ).otherwise(""),
    )
    html = F.concat(
        F.lit('<div class="doc">'),
        F.when(
            did % 2 == 0,
            F.lit('<script type="text/js">var x = 1 < 2;</script>'),
        ).otherwise(""),
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            did % 4 == 0,
            F.lit("<!-- hidden --><style>p {color: red}</style>"),
        ).otherwise(""),
        F.lit("&amp;lt;tail&gt; &nbsp;</div>"),
    )
    dmg = F.concat(
        F.col("text"),
        F.when(did % 2 == 0, F.lit(_DMG_MOJI)).otherwise(""),
        F.when(did % 3 == 0, F.lit(_DMG_FW)).otherwise(""),
        F.when(did % 5 == 0, F.lit(_DMG_ZW)).otherwise(""),
    )
    return docs.select(
        "doc_id",
        email_count(aug).alias("n_emails"),
        ipv4_count(aug).alias("n_ipv4"),
        phone_count(aug).alias("n_phones"),
        F.md5(redact_pii(aug)).alias("redacted_fp"),
        tag_count(html).alias("n_tags"),
        F.md5(strip_markup(html)).alias("stripped_fp"),
        mojibake_count(dmg).alias("n_mojibake"),
        F.md5(normalize_unicode(dmg, collapse_ws=True)).alias("normalized_fp"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (documents)
# ---------------------------------------------------------------------------

_DECONTAM_N = 3  # real pipelines: 8–13; tiny synthetic vocab → 3 is the demo scale

_DECONTAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ts
  FROM documents
),
ng AS (
  SELECT doc_id, array_to_string(ts[i:i+{_DECONTAM_N - 1}], ' ') AS g
  FROM tok, UNNEST(range(1, greatest(len(ts) - {_DECONTAM_N - 2}, 1))) AS s(i)
),
bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0),
hits AS (
  SELECT ng.doc_id, CAST(COUNT(DISTINCT ng.g) AS BIGINT) AS n_hit_ngrams
  FROM ng JOIN bench USING (g)
  WHERE ng.doc_id % 97 <> 0
  GROUP BY ng.doc_id
),
verdicts AS (
  SELECT d.doc_id,
         CAST(COALESCE(h.n_hit_ngrams, 0) AS BIGINT) AS n_hit_ngrams,
         CAST(CASE WHEN COALESCE(h.n_hit_ngrams, 0) > 0 THEN 1 ELSE 0 END
              AS BIGINT) AS contaminated
  FROM documents d LEFT JOIN hits h USING (doc_id)
  WHERE d.doc_id % 97 <> 0
)
-- the Bloom-prefiltered mode is exact by construction (no false
-- negatives; the exact confirm join removes false positives), so its
-- oracle IS the exact verdicts again under its own tag
SELECT 'exact' AS section, * FROM verdicts
UNION ALL
SELECT 'bloom' AS section, * FROM verdicts
"""


@query("decontam_ngram_hits", oracle=_DECONTAM_ORACLE)
def decontam_ngram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs with doc_id % 97 == 0 stand in for the
    held-out benchmark; every other doc is checked for word-n-gram overlap
    against it (operators/decontam.py — benchmark n-grams broadcast, corpus
    n-grams never shuffle, per-doc hit agg is the only exchange). The
    corpus side rebalances (the n-gram explode is the compute hot spot and
    the input is a single row group); the benchmark slice stays tiny.

    Two sections, one oracle truth: `exact` broadcasts the benchmark grams
    themselves; `bloom` (r8) first streams corpus grams through the
    relational Bloom filter (operators/decontam.py::bloom_bitset — k
    broadcast probe joins over a (word_idx, bits) relation at ~m/8 bytes
    total, the shape that survives benchmark sets too big to broadcast as
    strings) and confirms survivors against the exact set, which makes its
    verdicts bit-identical — both sections hash against the SAME oracle
    rows, proving the probabilistic prefilter changes traffic, not
    results."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    is_bench = F.col("doc_id") % 97 == 0
    corpus, bench = docs.filter(~is_bench), docs.filter(is_bench)
    exact = ngram_contamination(corpus, bench, n=_DECONTAM_N)
    bloom = ngram_contamination(
        corpus, bench, n=_DECONTAM_N, bloom_bits=1 << 20, bloom_k=5
    )
    return exact.select(F.lit("exact").alias("section"), "*").unionByName(
        bloom.select(F.lit("bloom").alias("section"), "*")
    )


# ---------------------------------------------------------------------------
# Stratified source sampling (documents)
# ---------------------------------------------------------------------------

# Per-language keep-rates out of 256 hash buckets: downsample the
# over-represented languages, keep the rare ones whole — the "domain
# mixing" step of corpus assembly. Content-stable (md5 of the id): a doc's
# keep/drop verdict never changes as the corpus grows or repartitions.
_RATE_CASE_SQL = """CASE lang WHEN 'en' THEN 128 WHEN 'fr' THEN 64
                    WHEN 'es' THEN 64 WHEN 'de' THEN 256 ELSE 32 END"""

# ---------------------------------------------------------------------------
# Weighted without-replacement sampling (A-ES, content-stable)
# ---------------------------------------------------------------------------

_AES_N = 10

# DuckDB mirror of operators/sampling.py::stable_uniform: the first 13 md5
# hex nibbles of 'aes:' || doc_id as an exact 52-bit integer (every term
# < 2^53, so the double sum is exact), then (bits + 1) / 2^52.
_AES_BITS_SQL = " + ".join(
    "(strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), "
    f"{j + 1}, 1)) - 1) * {16 ** (12 - j)}"
    for j in range(13)
)

_AES_ORACLE = f"""
WITH u AS (
  SELECT doc_id, lang,
         ({_AES_BITS_SQL} + 1.0) / 4503599627370496.0 AS u,
         CAST(n_chars AS DOUBLE) AS w
  FROM documents
),
k AS (
  SELECT doc_id, lang,
         CASE WHEN w > 0 THEN ln(u) / w ELSE CAST('-infinity' AS DOUBLE) END AS key
  FROM u
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rn
  FROM k
)
SELECT lang, doc_id, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {_AES_N}
"""


# The Efraimidis–Spirakis weighted-sampling demonstration rides
# `sampling_audits` as its `aes` section (r7 consolidation — all three
# content-stable sampling verdicts under one driver row, freeing the slot
# for `profile_drift_report`); _AES_ORACLE above is its DuckDB mirror.


# ---------------------------------------------------------------------------
# Sequence packing (documents → fixed token-budget training sequences)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256
_PACK_SHARDS = 4

_PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN 0 ELSE len(string_split(norm, ' ')) END AS n_tokens
  FROM (SELECT doc_id,
               lower(trim(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))) AS norm
        FROM documents)
),
keyed AS (
  SELECT doc_id, n_tokens,
         ((strpos('0123456789abcdef', substr(md5('packshard' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5('packshard' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
         % {_PACK_SHARDS} AS shard,
         md5('packorder' || CAST(doc_id AS VARCHAR)) AS ord
  FROM t
),
cum AS (
  SELECT doc_id, n_tokens, shard,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM keyed
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(shard AS INT) AS shard,
       CAST(c - n_tokens AS BIGINT) AS token_start,
       CAST(floor((c - n_tokens) / {_PACK_BUDGET}.0) AS INT) AS bin_first,
       CAST(floor((c - 1) / {_PACK_BUDGET}.0) AS INT) AS bin_last,
       floor((c - 1) / {_PACK_BUDGET}.0) > floor((c - n_tokens) / {_PACK_BUDGET}.0)
         AS spans_cut
FROM cum
"""


@query("pack_token_sequences", oracle=_PACKING_ORACLE)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing (operators/packing.py) under the
    driver oracle: whitespace token counts → md5-salted shard + ordering
    (content-stable AND engine-portable — the xxhash64 default can't be
    mirrored in DuckDB) → per-shard window cumsum → every doc's
    [token_start, bin_first..bin_last] location in the fixed-budget
    sequence stream. The only shuffle is the shard exchange; each shard
    sorts independently (never a global sort), which is the property that
    lets packing scale to 100 TB corpora."""
    from ..functions.hashing import md5_bucket
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    with_tokens = docs.selectExpr(
        "doc_id", f"{token_count('text')} AS n_tokens")
    packed = pack_sequences(
        with_tokens,
        budget=_PACK_BUDGET,
        n_shards=_PACK_SHARDS,
        shard_expr=F.expr(
            f"CAST({md5_bucket('doc_id', salt='packshard')} % {_PACK_SHARDS} AS INT)"),
        order_expr=F.md5(F.concat(F.lit("packorder"), F.col("doc_id").cast("string"))),
    )
    return packed.select(
        "doc_id", "n_tokens", "shard", "token_start",
        "bin_first", "bin_last", "spans_cut",
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing (documents, by language)
# ---------------------------------------------------------------------------

# size^0.5 mixing over the skewed language mix: the dominant language is
# damped (rate < 1, content-stable fractional keep), rare ones upweighted
# (rate > 1, whole-copy repeat + fractional extra). The md5 bucket is
# SALTED ("mix") so the draw is independent of the unsalted stratified /
# split buckets (functions/hashing.py).
_MIX_TARGET = 500

_MIX_BUCKET_SQL = """
  (strpos('0123456789abcdef', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
"""

_MIXING_ORACLE = f"""
WITH counts AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '__null_source__') AS lang,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM documents GROUP BY 1
),
tw AS (SELECT SUM(w) AS tw FROM counts),
rates AS (
  SELECT lang, n_rows, {_MIX_TARGET}.0 * w / tw / n_rows AS rate
  FROM counts, tw
),
per_doc AS (
  SELECT r.lang, r.n_rows, r.rate,
         CAST(floor(r.rate) AS BIGINT)
         + CASE WHEN ({_MIX_BUCKET_SQL}) < (r.rate - floor(r.rate)) * 256
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d
  JOIN rates r ON COALESCE(CAST(d.lang AS VARCHAR), '__null_source__') = r.lang
)
SELECT lang, n_rows,
       {sql_round6('rate')} AS rate6,
       CAST(SUM(n_copies) AS BIGINT) AS n_out
FROM per_doc GROUP BY lang, n_rows, rate
"""


@query("mixing_temperature", oracle=_MIXING_ORACLE)
def mixing_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing (size^0.5) of the language mix, applied and
    audited (operators/mixing.py). Rates come from the sqrt-exact integer-
    weight path (``mixture_rates_sqrt`` — bit-identical across engines, so
    the oracle reproduces every fractional-draw boundary); application is
    ``apply_mixture``'s broadcast rate join + content-stable salted-bucket
    fractional draw + repeat-explode. The audit counts the EXPLODED output
    rows per language, so the oracle row verifies the realized copy counts,
    not just the rate table. Scale shape: one tiny per-source aggregate,
    then map-only application — no corpus shuffle."""
    from ..operators.mixing import apply_mixture, mixture_rates_sqrt

    docs = load_table(spark, sf_dir, "documents")
    # Materialize the O(#sources) rate table once: its lineage (a corpus
    # count aggregate + the 1-row total-weight broadcast) is consumed both
    # by the application join and the audit output — without this the
    # corpus would be re-aggregated per consumer.
    rates = mixture_rates_sqrt(docs, "lang", target_rows=_MIX_TARGET).localCheckpoint()
    mixed = apply_mixture(docs, rates, source_col="lang", id_col="doc_id")
    realized = mixed.groupBy(
        F.coalesce(F.col("lang").cast("string"), F.lit("__null_source__")).alias("lang")
    ).agg(F.count(F.lit(1)).alias("n_out"))
    return (
        rates.select("lang", "n_rows", round6(F.col("rate")).alias("rate6"))
        .join(F.broadcast(realized), "lang", "left")
        .select(
            "lang",
            "n_rows",
            "rate6",
            F.coalesce(F.col("n_out"), F.lit(0)).cast("long").alias("n_out"),
        )
    )


# Diversity section (r8, operators/diversity.py): cluster-balanced
# round-robin selection over the embeddings table, ivf_ann_topk's fixture
# conventions (deterministic 'trained' centroids = vectors 10–17). The
# oracle re-derives the whole selection: nearest-centroid assignment
# (round6 cosine, id tie-break), the salted 52-bit md5 uniform as the
# within-cluster preference, and the exact water-filled draw depth
# (smallest d with Σ min(size, d) ≥ n, boundary trimmed by cluster_id).
_DIV_N = 24

_DIV_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / nullif(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0.0)"
)

# operators/sampling.py::stable_uniform with the diversity salt, on vec_id.
_DIV_BITS_SQL = " + ".join(
    "(strpos('0123456789abcdef', substr(md5('diversity:' || CAST(vec_id AS VARCHAR)), "
    f"{j + 1}, 1)) - 1) * {16 ** (12 - j)}"
    for j in range(13)
)

_DIVERSITY_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cluster_id, embedding AS cv FROM embeddings
  WHERE vec_id BETWEEN 10 AND 17
),
sa AS (
  SELECT e.vec_id, c.cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {sql_round6(_DIV_COS.format(a='e.embedding', b='c.cv'))} DESC,
                    c.cluster_id
         ) AS rn
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (SELECT vec_id, cluster_id FROM sa WHERE rn = 1),
ranked AS (
  SELECT vec_id, cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY ({_DIV_BITS_SQL} + 1.0) / 4503599627370496.0 DESC, vec_id
         ) AS rr
  FROM assigned
),
sizes AS (SELECT cluster_id, COUNT(*) AS s FROM assigned GROUP BY cluster_id),
fill AS (
  SELECT d, SUM(LEAST(s, d)) AS filled
  FROM (SELECT UNNEST(range(1, (SELECT MAX(s) FROM sizes) + 1)) AS d), sizes
  GROUP BY d
),
c AS (SELECT MIN(d) AS depth FROM fill WHERE filled >= {_DIV_N}),
below AS (
  SELECT CAST(SUM(LEAST(s, (SELECT depth FROM c) - 1)) AS BIGINT) AS nb FROM sizes
),
pick AS (
  SELECT vec_id, cluster_id, rr FROM ranked WHERE rr < (SELECT depth FROM c)
  UNION ALL
  SELECT vec_id, cluster_id, rr FROM (
    SELECT vec_id, cluster_id, rr,
           ROW_NUMBER() OVER (ORDER BY cluster_id) AS brn
    FROM ranked WHERE rr = (SELECT depth FROM c)
  ) WHERE brn <= {_DIV_N} - (SELECT nb FROM below)
)
SELECT vec_id, cluster_id,
       CAST(ROW_NUMBER() OVER (ORDER BY rr, cluster_id, vec_id) AS INT) AS draw
FROM pick
"""

# DSIR sections (r8, operators/dsir.py): importance resampling of the
# raw pool (lang <> 'de') toward the 'de' slice as the stand-in target
# corpus. The oracle re-derives the full chain: salted 256-way md5 token
# buckets, add-1-smoothed count ratios over the FULL bucket domain,
# round6(ln(ratio)) λ, per-doc DECIMAL(18,6) λ sums, and the Gumbel
# top-N draw (key = log_w − ln(−ln(u)), u = exact 52-bit md5 uniform).
_DSIR_N = 16

_DSIR_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5('dsir:' || term), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5('dsir:' || term), 2, 1)) - 1)"
)

# operators/sampling.py::stable_uniform with the dsir draw salt.
_DSIR_BITS_SQL = " + ".join(
    "(strpos('0123456789abcdef', substr(md5('dsir-g:' || CAST(doc_id AS VARCHAR)), "
    f"{j + 1}, 1)) - 1) * {16 ** (12 - j)}"
    for j in range(13)
)

_DSIR_CTES = f"""
dsir_tgt AS (
  SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents WHERE lang = 'de'
),
dsir_raw AS (
  SELECT doc_id, lang,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents WHERE lang <> 'de'
),
dsir_tcnt AS (
  SELECT {_DSIR_BUCKET_SQL} AS bucket, COUNT(*) AS ct
  FROM (SELECT unnest(string_split(norm, ' ')) AS term
        FROM dsir_tgt WHERE norm <> '')
  GROUP BY 1
),
dsir_rcnt AS (
  SELECT {_DSIR_BUCKET_SQL} AS bucket, COUNT(*) AS cr
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term
        FROM dsir_raw WHERE norm <> '')
  GROUP BY 1
),
dsir_cnts AS (
  SELECT CAST(r.i AS INT) AS bucket,
         COALESCE(t.ct, 0) AS ct, COALESCE(c.cr, 0) AS cr
  FROM range(0, 256) r(i)
  LEFT JOIN dsir_tcnt t ON t.bucket = r.i
  LEFT JOIN dsir_rcnt c ON c.bucket = r.i
),
dsir_tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dsir_cnts),
dsir_lam AS (
  SELECT bucket,
         {sql_round6('ln(((ct + 1.0) * (nr + 256.0)) / ((cr + 1.0) * (nt + 256.0)))')} AS lr
  FROM dsir_cnts, dsir_tot
),
dsir_score AS (
  SELECT r.doc_id, r.lang, COALESCE(CAST(s.sw AS DOUBLE), 0.0) AS log_w
  FROM dsir_raw r LEFT JOIN (
    SELECT doc_id, SUM(CAST(lr AS DECIMAL(18,6))) AS sw
    FROM (
      SELECT t.doc_id, l.lr
      FROM (SELECT doc_id, {_DSIR_BUCKET_SQL} AS bucket
            FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term
                  FROM dsir_raw WHERE norm <> ''))  t
      JOIN dsir_lam l USING (bucket)
    )
    GROUP BY doc_id
  ) s USING (doc_id)
),
dsir_sel AS (
  SELECT doc_id, lang, log_w, key,
         ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, lang, log_w,
           {sql_round6('log_w - ln(-ln((' + _DSIR_BITS_SQL + ' + 1.0) / 4503599627370496.0))')} AS key
    FROM dsir_score
  )
)"""


_SAMPLING_AUDITS_ORACLE = f"""
WITH {_DSIR_CTES.lstrip()},
h AS (
  SELECT doc_id, lang, n_chars,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket,
         {_RATE_CASE_SQL} AS thr
  FROM documents
),
split_rows AS (
  SELECT CASE WHEN bucket < 230 THEN 'train'
              WHEN bucket < 243 THEN 'val'
              ELSE 'test' END AS stratum,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
  FROM h GROUP BY 1
),
grouped AS (
  SELECT doc_id, source,
         CASE WHEN gb < 230 THEN 'train'
              WHEN gb < 243 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, source,
           (strpos('0123456789abcdef',
                   substr(md5('split:' || COALESCE(source, '')), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5('split:' || COALESCE(source, '')), 2, 1)) - 1) AS gb
    FROM documents
  )
),
grouped_rows AS (
  SELECT split AS stratum,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sampled,
         CAST(MIN(doc_id) AS BIGINT) AS min_id,
         CAST(MAX(doc_id) AS BIGINT) AS max_id
  FROM grouped GROUP BY 1
),
strat_rows AS (
  SELECT lang AS stratum,
         CAST(COUNT(*) AS BIGINT)                                       AS n_docs,
         CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT)  AS n_sampled,
         CAST(SUM(CASE WHEN bucket < thr THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars,
         {sql_round6('ANY_VALUE(thr) / 256.0')}                         AS target_rate,
         {sql_round6('CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)')} AS achieved_rate
  FROM h GROUP BY lang
)
SELECT 'split' AS section, stratum, n_docs,
       CAST(NULL AS BIGINT) AS n_sampled, CAST(NULL AS BIGINT) AS sampled_chars,
       CAST(NULL AS DOUBLE) AS target_rate, CAST(NULL AS DOUBLE) AS achieved_rate,
       min_id, max_id,
       CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS rank
FROM split_rows
UNION ALL
SELECT 'grouped', stratum, n_docs, n_sampled,
       CAST(NULL AS BIGINT) AS sampled_chars,
       CAST(NULL AS DOUBLE) AS target_rate, CAST(NULL AS DOUBLE) AS achieved_rate,
       min_id, max_id,
       CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS rank
FROM grouped_rows
UNION ALL
SELECT 'stratified', stratum, n_docs, n_sampled, sampled_chars,
       target_rate, achieved_rate, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS INT)
FROM strat_rows
UNION ALL
SELECT 'aes', lang, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), doc_id, rank
FROM ({_AES_ORACLE})
UNION ALL
SELECT 'diversity', CAST(cluster_id AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       vec_id, draw
FROM ({_DIVERSITY_ORACLE})
UNION ALL
SELECT 'dsir_lambda', CAST(bucket AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), lr,
       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS INT)
FROM dsir_lam
UNION ALL
SELECT 'dsir', lang, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), log_w, key, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), doc_id, CAST(rn AS INT)
FROM dsir_sel WHERE rn <= {_DSIR_N}
"""


@query("sampling_audits", oracle=_SAMPLING_AUDITS_ORACLE)
def sampling_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three content-stable sampling decisions under one driver row
    (r6 fused `train_val_split` + `stratified_sample_docs`; r7 adds the
    Efraimidis–Spirakis draw as the `aes` section, freeing a registry
    slot for `profile_drift_report`).

    `split`: deterministic ~90/5/5 train/val/test assignment (a doc never
    changes split as the corpus grows). `stratified`: per-language
    keep-rates out of 256 buckets — downsample the over-represented
    languages, keep the rare ones whole. Both verdicts are map-side
    projections; the audit aggregates are the only shuffles. At 100 TB
    the same expressions feed filters instead of audits — zero-shuffle
    sampling with exact, auditable per-stratum rates.

    `aes` (operators/sampling.py::weighted_sample_per_group): weighted
    WITHOUT-replacement top-10 docs per language, weight = n_chars. The
    A-ES key is content-stable (u from 52 md5 bits of the salted id —
    exact in double on any engine) and ranked in log space (ln(u)/w
    never underflows); its only shuffle is the per-group (group, key)
    window.

    `dsir_lambda` / `dsir` (r8, operators/dsir.py): DSIR importance
    resampling of the raw pool (lang <> 'de') toward the 'de' slice as
    the target distribution — the hashed-n-gram λ table (full 256-bucket
    domain, add-1 smoothing, round6(ln ratio)) and the Gumbel top-16 draw
    (key = log_w − ln(−ln(u))), with per-doc log-weights folded map-side
    in DECIMAL(18,6) off the literal λ array (no shuffle, no join — the
    paper's linear scan). Both the model (λ) and the decision (selected
    ids, weights, keys, draw order) are value-hashed.

    `diversity` (r8, operators/diversity.py::diversity_sample):
    cluster-balanced round-robin selection of 24 embedding rows
    (centroids = vectors 10–17, the ivf_ann_topk fixture convention) —
    the oracle re-derives assignment, the salted md5-uniform preference,
    and the exact water-filled draw depth, so the picked ID SET and the
    global draw order are both value-checked. Scale shape per the
    operator: broadcast assignment, one cluster_id window shuffle, O(k)
    size collect, ≤k-row boundary TakeOrdered."""
    from ..functions.hashing import md5_bucket
    from ..operators.diversity import diversity_sample
    from ..operators.sampling import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    # Unsalted bucket: pinned by the oracle text (see functions/hashing.py
    # on why COMPOSING operators must salt instead).
    bucket = F.expr(md5_bucket("doc_id"))

    split = (
        F.when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test")
    )
    split_rows = (
        docs.select(split.alias("stratum"), "doc_id")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .select(
            F.lit("split").alias("section"),
            "stratum",
            "n_docs",
            F.lit(None).cast("long").alias("n_sampled"),
            F.lit(None).cast("long").alias("sampled_chars"),
            F.lit(None).cast("double").alias("target_rate"),
            F.lit(None).cast("double").alias("achieved_rate"),
            "min_id",
            "max_id",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("int").alias("rank"),
        )
    )

    # grouped section (r13, VERDICT r12 item 1): grouped_split under the
    # oracle — the leakage-safe split hashes the GROUP key (source), so
    # every row of a group lands in one split; the oracle re-derives the
    # md5-bucket assignment on 'split:' || source and the per-split
    # group/row counts + id bounds.
    from ..operators.sampling import grouped_split

    grouped_rows = (
        grouped_split(docs.select("doc_id", "source"),
                      group_col="source")
        .groupBy(F.col("split").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .select(
            F.lit("grouped").alias("section"),
            "stratum",
            "n_docs",
            "n_sampled",
            F.lit(None).cast("long").alias("sampled_chars"),
            F.lit(None).cast("double").alias("target_rate"),
            F.lit(None).cast("double").alias("achieved_rate"),
            "min_id",
            "max_id",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("int").alias("rank"),
        )
    )

    thr = (
        F.when(F.col("lang") == "en", 128)
        .when(F.col("lang") == "fr", 64)
        .when(F.col("lang") == "es", 64)
        .when(F.col("lang") == "de", 256)
        .otherwise(32)
    )
    kept = (bucket < thr).cast("int")
    strat_rows = (
        docs.select("lang", "n_chars", kept.alias("kept"), thr.alias("thr"))
        .groupBy(F.col("lang").alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_sampled"),
            F.sum(F.col("kept") * F.col("n_chars")).cast("long").alias("sampled_chars"),
            round6(F.any_value(F.col("thr")) / F.lit(256.0)).alias("target_rate"),
            round6(
                F.sum("kept").cast("double") / F.count(F.lit(1))
            ).alias("achieved_rate"),
        )
        .select(
            F.lit("stratified").alias("section"),
            "stratum",
            "n_docs",
            "n_sampled",
            "sampled_chars",
            "target_rate",
            "achieved_rate",
            F.lit(None).cast("long").alias("min_id"),
            F.lit(None).cast("long").alias("max_id"),
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("int").alias("rank"),
        )
    )

    aes_rows = weighted_sample_per_group(
        docs.select("lang", "doc_id", "n_chars"),
        group_col="lang",
        id_col="doc_id",
        weight_col="n_chars",
        n=_AES_N,
        keep_rank="rank",
    ).select(
        F.lit("aes").alias("section"),
        F.col("lang").alias("stratum"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_sampled"),
        F.lit(None).cast("long").alias("sampled_chars"),
        F.lit(None).cast("double").alias("target_rate"),
        F.lit(None).cast("double").alias("achieved_rate"),
        F.lit(None).cast("long").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
        "doc_id",
        "rank",
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") <= 17)
    ).select("vec_id", "embedding")
    div_rows = diversity_sample(
        emb.select("vec_id", "embedding"),
        cents,
        n=_DIV_N,
        keep_order="draw",
    ).select(
        F.lit("diversity").alias("section"),
        F.col("cluster_id").cast("string").alias("stratum"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_sampled"),
        F.lit(None).cast("long").alias("sampled_chars"),
        F.lit(None).cast("double").alias("target_rate"),
        F.lit(None).cast("double").alias("achieved_rate"),
        F.lit(None).cast("long").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
        F.col("vec_id").cast("long").alias("doc_id"),
        F.col("draw").alias("rank"),
    )
    # DSIR sections (r8): λ relation materialized once (localCheckpoint —
    # consumed both by the output rows and the O(B) collect that feeds the
    # map-side literal scoring), then importance-weighted Gumbel top-N over
    # the raw pool.
    from ..operators.dsir import (
        bucket_logratios,
        collect_logratios,
        dsir_log_weights,
        gumbel_select,
    )

    target = docs.filter(F.col("lang") == "de").select("text")
    raw_pool = docs.filter(F.col("lang") != "de").select("doc_id", "lang", "text")
    lam = bucket_logratios(target, raw_pool).localCheckpoint()
    lam_rows = lam.select(
        F.lit("dsir_lambda").alias("section"),
        F.col("bucket").cast("string").alias("stratum"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_sampled"),
        F.lit(None).cast("long").alias("sampled_chars"),
        F.col("log_ratio").alias("target_rate"),
        F.lit(None).cast("double").alias("achieved_rate"),
        F.lit(None).cast("long").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("int").alias("rank"),
    )
    weighted = dsir_log_weights(raw_pool, collect_logratios(lam))
    dsir_rows = gumbel_select(weighted, _DSIR_N).select(
        F.lit("dsir").alias("section"),
        F.col("lang").alias("stratum"),
        F.lit(None).cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("n_sampled"),
        F.lit(None).cast("long").alias("sampled_chars"),
        F.col("log_w").alias("target_rate"),
        F.col("key").alias("achieved_rate"),
        F.lit(None).cast("long").alias("min_id"),
        F.lit(None).cast("long").alias("max_id"),
        "doc_id",
        "rank",
    )
    return (
        split_rows.unionByName(grouped_rows)
        .unionByName(strat_rows)
        .unionByName(aes_rows)
        .unionByName(div_rows)
        .unionByName(lam_rows)
        .unionByName(dsir_rows)
    )
