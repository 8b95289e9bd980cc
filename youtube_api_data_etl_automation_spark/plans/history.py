"""Round-4 operator queries: repeated-substring spans, SCD2 dimension
history, and per-group (domain) capping.

Each query is the oracle-checked demonstration of an operator module:
operators/substring.py, operators/scd.py, operators/capping.py. The
reference anchor is the dimension-overwrite sink (fetch_youtube_data.py:198
— history-destroying; SCD2 is the upgrade) and the corpus-curation north
star (repeated-text removal and domain caps are standard LLM-corpus steps
the reference's capture ETL feeds into).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.capping import cap_per_group
from ..operators.scd import scd2_history
from ..operators.substring import repeated_span_profile
from ..sources.tables import load_table
from .registry import query

# ---------------------------------------------------------------------------
# Repeated-substring spans (documents) — exact-substring dedup family
# ---------------------------------------------------------------------------

_SPAN_K = 8  # minimum repeated-substring length, in tokens

_SPANS_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
),
t AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(norm, ' ') END AS tok
  FROM n
),
g AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(tok[i:i+{_SPAN_K - 1}], ' ')) AS gh
  FROM t, UNNEST(range(1, greatest(len(tok) - {_SPAN_K} + 2, 1))) AS s(i)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SPAN_K} THEN 0 ELSE 1 END AS brk
  FROM p
),
grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SPAN_K - 1} AS e
  FROM grp GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)        AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT)  AS dup_tokens,
       CAST(MAX(e - s + 1) AS INT)     AS max_span_tokens
FROM spans
GROUP BY doc_id
"""


@query("repeated_substring_spans", oracle=_SPANS_ORACLE)
def repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection (suffix-array dedup restated for
    Spark): every repeated substring of ≥ k tokens is a union of duplicated
    k-gram windows, so flag duplicated k-gram starts (md5 gram hash —
    raw text never shuffles) and merge overlapping windows per doc into
    maximal spans (gaps-and-islands window). No pair generation anywhere —
    a gram occurring m times costs m rows, not m², so boilerplate cannot
    go quadratic. Output: per-doc span profile for docs containing
    repeated text."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return repeated_span_profile(docs, k=_SPAN_K, min_occurrences=2)


# ---------------------------------------------------------------------------
# SCD2 dimension history (orders → per-customer priority versions)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH lagged AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
),
v AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM lagged
),
c AS (
  SELECT o_custkey, ver, o_orderpriority,
         MIN(o_orderdate) AS vf, COUNT(*) AS n_obs
  FROM v GROUP BY o_custkey, ver, o_orderpriority
)
SELECT o_custkey,
       CAST(ver AS INT)                 AS scd_version,
       o_orderpriority,
       epoch_us(vf)                     AS valid_from_us,
       epoch_us(LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY ver)) AS valid_to_us,
       CAST(n_obs AS BIGINT)            AS n_observations,
       CAST(CASE WHEN LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY ver)
                      IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM c
"""


@query("scd2_priority_history", oracle=_SCD2_ORACLE)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 assembly (operators/scd.py): each customer's order-
    priority observations collapse into validity-interval versions — the
    history-keeping upgrade of the reference's drop-and-recreate dimension
    sink (fetch_youtube_data.py:198). One shuffle on the key; the
    interval-closing lead() runs on the collapsed (per-version) relation,
    not per-observation."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    hist = scd2_history(
        obs,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        order_cols=["o_orderdate", "o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "scd_version",
        "o_orderpriority",
        # o_orderdate is parquet TIMESTAMP_NTZ; the session TZ is UTC, so
        # the cast preserves wall-clock and unix_micros == DuckDB epoch_us.
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
        "n_observations",
        "is_current",
    )


# ---------------------------------------------------------------------------
# Per-group capping (documents by lang — the "domain cap" curation step)
# ---------------------------------------------------------------------------

# planted PSL rule set for the psl section: normal suffixes, a wildcard
# over example.org (the *.github.io shape the heuristic over-merges),
# and an exception carving src3.example.org back out of the wildcard
_PSL_RULES = (
    "com", "org", "uk", "co.uk",
    "*.example.org", "!src3.example.org",
)

_CAP = 100  # per-lang cap; 'en' is over at sf0.01, keeping both paths live

# the domains section constructs deterministic URLs from documents rows
# (userinfo / upper-case / trailing-dot / port / ccSLD variants all
# reachable via doc_id arithmetic) and re-derives host + registrable
# domain + TLD in BOTH engines — functions/urls.py under the oracle.
_CAP_ORACLE = rf"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents
),
kept AS (SELECT lang, doc_id FROM ranked WHERE rn <= {_CAP}),
lang_section AS (
  SELECT 'lang_cap' AS section,
         l.lang AS key,
         l.n_docs,
         k.n_kept,
         k.kept_fp
  FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang) l
  JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS kept_fp
        FROM kept GROUP BY lang) k USING (lang)
),
u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 11 = 0 THEN 'https://user:pw@' ELSE 'https://' END)
    || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
    || '.example'
    || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
             WHEN doc_id % 3 = 1 THEN '.com' ELSE '.org' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '.' ELSE '' END)
    || ':' || CAST(8000 + doc_id % 100 AS VARCHAR)
    || '/p/' || CAST(doc_id AS VARCHAR)
    || '?lang=' || COALESCE(lang, '-') AS url
  FROM documents
),
h AS (
  SELECT doc_id,
    regexp_replace(
      lower(regexp_extract(
        url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
      '\.$', '') AS host
  FROM u
),
r AS (
  SELECT doc_id, host,
    CASE WHEN len(string_split(host, '.')) <= 1 THEN host
         WHEN len(string_split(host, '.')) >= 3
              AND list_contains(
                ['co.uk', 'com.au', 'co.jp', 'com.br'],
                string_split(host, '.')[-2] || '.'
                || string_split(host, '.')[-1])
           THEN string_split(host, '.')[-3] || '.'
                || string_split(host, '.')[-2] || '.'
                || string_split(host, '.')[-1]
         ELSE string_split(host, '.')[-2] || '.'
              || string_split(host, '.')[-1] END AS dom,
    CASE WHEN host LIKE '%.%'
         THEN string_split(host, '.')[-1] ELSE '' END AS tld
  FROM h
),
domain_section AS (
  SELECT 'domains' AS section,
         dom || '|' || tld AS key,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT host) AS BIGINT) AS n_kept,
         md5(string_agg(DISTINCT host, ',' ORDER BY host)) AS kept_fp
  FROM r GROUP BY dom, tld
)
SELECT * FROM lang_section
UNION ALL
SELECT * FROM domain_section
"""


@query("lang_cap_docs", oracle=_CAP_ORACLE)
def lang_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two curation sections over documents, tag-unioned:

    ``lang_cap`` — per-group frequency cap (operators/capping.py — lang
    stands in for the domain/host key): at most {cap} docs per language,
    chosen by content-stable salted md5 rank. Two-path plan: under-cap
    groups pass with NO window sort (broadcast anti-join against the
    over-cap group list); only over-cap groups' rows pay the rank — at
    100 TB that is the difference between sorting the whole corpus and
    sorting the hot tail. The oracle is the naive whole-corpus
    row_number form — results must be identical.

    ``domains`` (late r11) — URL analysis (functions/urls.py): documents
    rows mint deterministic URLs covering userinfo, upper-case hosts,
    trailing dots, ports, and ccSLD suffixes; url_host /
    registrable_domain / url_tld reduce them to per-domain counts and a
    sorted-host fingerprint the DuckDB oracle re-derives with its own
    string ops — the provenance key the domain cap runs on for real.

    The URL-compliance sections (psl/canon/robots) that rode this row
    in r12 moved to their own ``url_compliance_docs`` row in r13 —
    this row had grown five pipelines deep and its per-section timing
    was dominated by the shared construct (VERDICT r12 item 6)."""
    from ..functions.urls import registrable_domain, url_host, url_tld

    docs = load_table(spark, sf_dir, "documents")
    kept = cap_per_group(docs, group_col="lang", id_col="doc_id", cap=_CAP)
    audit = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("kept_fp"),
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    lang_section = totals.join(audit, "lang").select(
        F.lit("lang_cap").alias("section"),
        F.col("lang").alias("key"),
        "n_docs", "n_kept", "kept_fp",
    )

    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 11 == 0, F.lit("https://user:pw@"))
        .otherwise(F.lit("https://")),
        F.when(did % 5 == 0, F.upper(F.col("source")))
        .otherwise(F.col("source")),
        F.lit(".example"),
        F.when(did % 3 == 0, F.lit(".co.uk"))
        .when(did % 3 == 1, F.lit(".com")).otherwise(F.lit(".org")),
        F.when(did % 7 == 0, F.lit(".")).otherwise(F.lit("")),
        F.lit(":"), (F.lit(8000) + did % 100).cast("string"),
        F.lit("/p/"), did.cast("string"),
        F.lit("?lang="), F.coalesce(F.col("lang"), F.lit("-")),
    )
    with_url = docs.select(did.alias("doc_id"), url.alias("url"))
    parsed = with_url.selectExpr(
        f"{url_host('url')} AS host",
        f"{registrable_domain('url')} AS dom",
        f"{url_tld('url')} AS tld",
    )
    domain_section = parsed.groupBy("dom", "tld").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_kept"),
        F.md5(F.concat_ws(",", F.array_sort(F.collect_set("host"))))
        .alias("kept_fp"),
    ).select(
        F.lit("domains").alias("section"),
        F.concat_ws("|", F.col("dom"), F.col("tld")).alias("key"),
        "n_docs", "n_kept", "kept_fp",
    )
    return lang_section.unionByName(domain_section)


# ---------------------------------------------------------------------------
# URL compliance (documents) — the crawl-provenance front end as its own row
# (r13: moved off lang_cap_docs per VERDICT r12 item 6 — that row had grown
# five pipelines deep; this row owns the URL/compliance sections and adds
# the crawl_frontier composition)
# ---------------------------------------------------------------------------

# the robots/psl/canon CTEs are shared verbatim with the pre-r13
# lang_cap_docs oracle; the frontier section hand-derives the REP
# outcomes per path shape exactly like the robots section does, plus the
# canonicalization dedup (tracking-param twin entries, entity-escaped
# unsorted query) and the seen subtraction
_URL_COMPLIANCE_ORACLE = rf"""
WITH psl_rules(rule) AS (VALUES
  ('com'), ('org'), ('uk'), ('co.uk'),
  ('*.example.org'), ('!src3.example.org')),
psl_prep AS (
  SELECT CASE WHEN rule LIKE '!%' THEN 4
              WHEN rule LIKE '*.%' THEN 2 ELSE 1 END AS flag,
         regexp_replace(rule, '^(!|\*\.)', '') AS key
  FROM psl_rules
),
psl_keyed AS (SELECT key, bit_or(flag) AS flags FROM psl_prep GROUP BY key),
psl_u AS (
  SELECT doc_id,
    'https://'
    || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
    || source || '.example'
    || (CASE WHEN doc_id % 3 = 0 THEN '.org'
             WHEN doc_id % 3 = 1 THEN '.com' ELSE '.co.uk' END)
    || '/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
psl_h AS (
  SELECT doc_id,
    regexp_replace(
      lower(regexp_extract(
        url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
      '\.$', '') AS host
  FROM psl_u
),
psl_lab AS (
  SELECT doc_id, host, string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS nl
  FROM psl_h
),
psl_sufs AS (
  SELECT l.doc_id, l.host, l.nl, l.labels, i.i,
         array_to_string(l.labels[l.nl - i.i + 1 : l.nl], '.') AS suf
  FROM psl_lab l, (SELECT unnest(range(1, 9)) AS i) i
  WHERE i.i <= least(l.nl, 8) AND l.host <> ''
),
psl_m AS (
  SELECT s.doc_id, s.host, s.nl, s.labels,
         greatest(1,
           coalesce(max(CASE WHEN (k.flags & 1) <> 0
                             THEN s.i END), 0),
           coalesce(max(CASE WHEN (k.flags & 2) <> 0 AND s.nl > s.i
                             THEN s.i + 1 END), 0)) AS ps_n,
         max(CASE WHEN (k.flags & 4) <> 0 THEN s.i - 1 END) AS exc
  FROM psl_sufs s LEFT JOIN psl_keyed k ON k.key = s.suf
  GROUP BY s.doc_id, s.host, s.nl, s.labels
),
psl_dom AS (
  SELECT doc_id, host,
    CASE WHEN nl > coalesce(exc, ps_n)
         THEN array_to_string(
           labels[nl - coalesce(exc, ps_n) : nl], '.') END AS psl_d,
    CASE WHEN nl <= 1 THEN host
         WHEN nl >= 3 AND list_contains(
             ['co.uk'],
             labels[-2] || '.' || labels[-1])
           THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
         ELSE labels[-2] || '.' || labels[-1] END AS heur_d
  FROM psl_m
),
psl_section AS (
  SELECT 'psl' AS section,
         coalesce(psl_d, '-') || '|' || heur_d AS key,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT host) AS BIGINT) AS n_kept,
         md5(string_agg(DISTINCT host, ',' ORDER BY host)) AS kept_fp
  FROM psl_dom
  GROUP BY 1, 2
),
canon_u AS (
  SELECT doc_id,
    'https://'
    || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
    || '.example.com'
    || (CASE WHEN doc_id % 4 = 0 THEN ':443'
             WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
    || '/P/' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0
             THEN '?utm_source=x&b=' || CAST(doc_id % 7 AS VARCHAR)
                  || '&a=1'
             WHEN doc_id % 3 = 1
             THEN '?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
),
canon_parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1))
      AS scheme,
    regexp_replace(
      lower(regexp_extract(
        url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
      '\.$', '') AS host,
    regexp_extract(
      url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?[^/:?#]+:(\d+)',
      1) AS port,
    regexp_extract(
      url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)', 1) AS path,
    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS q
  FROM canon_u
),
canon_c AS (
  SELECT doc_id,
    scheme || '://' || host
    || (CASE WHEN port <> ''
              AND NOT (scheme = 'http' AND port = '80')
              AND NOT (scheme = 'https' AND port = '443')
             THEN ':' || port ELSE '' END)
    || (CASE WHEN path = '' THEN '/' ELSE path END)
    || (CASE WHEN array_to_string(list_sort(list_filter(
               string_split(q, '&'),
               p -> p <> ''
                    AND NOT list_contains(
                      ['fbclid', 'gclid', 'gclsrc', 'dclid', 'msclkid',
                       'mc_cid', 'mc_eid', 'igshid', 'yclid', 'twclid',
                       'ref_src', 'spm'],
                      string_split(p, '=')[1])
                    AND NOT starts_with(string_split(p, '=')[1],
                                        'utm_'))), '&') <> ''
             THEN '?' || array_to_string(list_sort(list_filter(
               string_split(q, '&'),
               p -> p <> ''
                    AND NOT list_contains(
                      ['fbclid', 'gclid', 'gclsrc', 'dclid', 'msclkid',
                       'mc_cid', 'mc_eid', 'igshid', 'yclid', 'twclid',
                       'ref_src', 'spm'],
                      string_split(p, '=')[1])
                    AND NOT starts_with(string_split(p, '=')[1],
                                        'utm_'))), '&')
             ELSE '' END) AS canon
  FROM canon_parts
),
canon_section AS (
  SELECT 'canon' AS section,
         CAST(doc_id % 3 AS VARCHAR) || '|'
           || CAST(doc_id % 4 AS VARCHAR) AS key,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_kept,
         md5(string_agg(DISTINCT canon, ',' ORDER BY canon)) AS kept_fp
  FROM canon_c
  GROUP BY 1, 2
),
rb_u AS (
  SELECT doc_id,
    source || '.example.com' AS host,
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN '/p0'
      WHEN 1 THEN '/p1/x'
      WHEN 2 THEN '/p1/ok.html'
      WHEN 3 THEN '/p2/doc'
      ELSE '/file.pdf' END AS path
  FROM documents
),
-- the oracle does NOT re-implement the REP evaluator: the planted
-- rule set's longest-match/wildcard/anchor/named-group outcomes are
-- HAND-DERIVED per path shape (see the Spark-side comment), so a
-- mirror bug in the engine's fold cannot hide here
rb_k AS (
  SELECT doc_id, host,
    CAST(doc_id % 5 AS INT) IN (0, 2, 3) AS keep_star,
    CAST(doc_id % 5 AS INT) IN (0, 1, 2, 4) AS keep_bot
  FROM rb_u
),
robots_section AS (
  SELECT 'robots' AS section,
         host || '|' || agent AS key,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         md5(COALESCE(string_agg(
           CASE WHEN kept THEN CAST(doc_id AS VARCHAR) END,
           ',' ORDER BY doc_id), '')) AS kept_fp
  FROM (
    SELECT doc_id, host, '*' AS agent, keep_star AS kept FROM rb_k
    UNION ALL
    SELECT doc_id, host, 'trainingbot', keep_bot FROM rb_k
  )
  GROUP BY 1, 2
),
fr_c AS (
  SELECT doc_id,
         source || '.example.com' AS host,
         'https://' || source || '.example.com' ||
         (CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN '/p0/d' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/p1/x' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN '/p1/ok' || CAST(doc_id AS VARCHAR)
            WHEN 3 THEN '/p2/d' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
            ELSE '/d' || CAST(doc_id AS VARCHAR) || '.pdf' END) AS canon,
         CASE WHEN doc_id % 4 = 0
              THEN 'd' || CAST(doc_id AS VARCHAR) END AS lastmod,
         CAST(doc_id % 5 AS INT) IN (0, 2, 3) AS allowed,
         doc_id % 10 = 2 AS seen
  FROM documents WHERE doc_id % 3 = 0
),
delays_section AS (
  -- hand-derived: * -> 2, trainingbot -> 7 (its own, not *'s),
  -- otherbot -> no row (named group w/o delay; exclusivity)
  SELECT 'delays' AS section,
         h.host || '|' || a.agent AS key,
         CAST(1 AS BIGINT) AS n_docs,
         CAST(a.d AS BIGINT) AS n_kept,
         md5(CAST(a.d AS VARCHAR)) AS kept_fp
  FROM (SELECT DISTINCT source || '.example.com' AS host
        FROM documents) h,
       (VALUES ('*', 2), ('trainingbot', 7)) AS a(agent, d)
),
frontier_section AS (
  -- r14: the per-URL fingerprint grows the host's hand-derived
  -- Crawl-delay (the fixture plants 2 + length(host) % 3 in the *
  -- group), checking crawl_frontier's host-keyed delay join
  SELECT 'frontier' AS section,
         host AS key,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN allowed AND NOT seen THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept,
         md5(COALESCE(string_agg(
           CASE WHEN allowed AND NOT seen
                THEN canon || '|' || COALESCE(lastmod, '-') || '|'
                     || CAST(2 + length(host) % 3 AS VARCHAR) END,
           ',' ORDER BY canon || '|' || COALESCE(lastmod, '-') || '|'
                     || CAST(2 + length(host) % 3 AS VARCHAR)), ''))
           AS kept_fp
  FROM fr_c
  GROUP BY host
)
SELECT * FROM psl_section
UNION ALL
SELECT * FROM canon_section
UNION ALL
SELECT * FROM robots_section
UNION ALL
SELECT * FROM delays_section
UNION ALL
SELECT * FROM frontier_section
"""



# The url_compliance_docs fixture and section fragments below are SQL
# text over fixed column names: each is one parse (three py4j calls) where
# the same tree built through the Column API costs about ten per node. The
# url_compliance_docs oracle hash pins the values.
_UC_PSL_URL = (
    "concat('https://', CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END, "
    "source, '.example', CASE WHEN doc_id % 3 = 0 THEN '.org' "
    "WHEN doc_id % 3 = 1 THEN '.com' ELSE '.co.uk' END, "
    "'/d/', CAST(doc_id AS STRING))")
_UC_CANON_URL = (
    "concat('https://', "
    "CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END, "
    "'.example.com', CASE WHEN doc_id % 4 = 0 THEN ':443' "
    "WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END, "
    "'/P/', CAST(doc_id AS STRING), "
    "CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=x&b=', "
    "CAST(doc_id % 7 AS STRING), '&a=1') "
    "WHEN doc_id % 3 = 1 THEN concat('?a=1&b=', CAST(doc_id % 7 AS STRING)) "
    "ELSE '' END, CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END)")
# the robots section's path shapes
_UC_RB_PATH = (
    "CASE WHEN doc_id % 5 = 0 THEN '/p0' WHEN doc_id % 5 = 1 THEN '/p1/x' "
    "WHEN doc_id % 5 = 2 THEN '/p1/ok.html' WHEN doc_id % 5 = 3 "
    "THEN '/p2/doc' ELSE '/file.pdf' END")
_UC_CANON_KEY = (
    "concat_ws('|', CAST(doc_id % 3 AS STRING), CAST(doc_id % 4 AS STRING))"
    " AS key")
_UC_PSL_KEY = ("concat_ws('|', coalesce(registrable_domain_psl, '-'), "
               "heur_dom) AS key")


def _uc_fp_aggs(val_col: str) -> list:
    """(n_docs, n_kept, kept_fp) aggregate triple over a distinct-value
    fingerprint column — the psl/canon section rollup."""
    return [
        F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
        F.expr(f"CAST(count(DISTINCT {val_col}) AS BIGINT) AS n_kept"),
        F.expr(f"md5(concat_ws(',', array_sort(collect_set({val_col}))))"
               " AS kept_fp"),
    ]


def _uc_frontier_frags(n_sm: int) -> tuple[str, ...]:
    """The frontier section's fixture SQL: (host, base URL, urlset
    entries, sitemapindex entries, per-host delay)."""
    host_c = "concat(source, '.example.com')"
    m5 = "CAST(doc_id % 5 AS INT)"
    did = "CAST(doc_id AS STRING)"
    fr_path = (
        f"CASE WHEN {m5} = 0 THEN concat('/p0/d', {did}) "
        f"WHEN {m5} = 1 THEN concat('/p1/x', {did}) "
        f"WHEN {m5} = 2 THEN concat('/p1/ok', {did}) "
        f"WHEN {m5} = 3 THEN concat('/p2/d', {did}) "
        f"ELSE concat('/d', {did}, '.pdf') END")
    base_url = f"concat('https://', {host_c}, {fr_path})"
    loc1 = (f"CASE WHEN {m5} = 3 THEN concat({base_url}, '?b=2&amp;a=1') "
            f"ELSE {base_url} END")
    fr_lastmod = f"CASE WHEN doc_id % 4 = 0 THEN concat('d', {did}) END"
    entry1 = (f"concat('<url><loc>', {loc1}, '</loc>', coalesce(concat("
              f"'<lastmod>', {fr_lastmod}, '</lastmod>'), ''), '</url>')")
    entry2 = (f"CASE WHEN {m5} != 3 AND doc_id % 2 = 0 THEN concat("
              f"'<url><loc>', {base_url}, '?utm_source=x</loc></url>') "
              "ELSE '' END")
    idx_entries = "concat_ws('', array(" + ", ".join(
        f"concat('<sitemap><loc>https://', host, '/sm{k}.xml</loc></sitemap>')"
        for k in range(n_sm)) + "))"
    fr_delay = "CAST(length(host) % 3 + 2 AS BIGINT)"
    return (host_c, base_url, f"concat({entry1}, {entry2})", idx_entries,
            fr_delay)


# The fused two-agent robots section: per-host governing rule arrays for
# '*' and 'trainingbot' ('trainingbot' rows govern when any exist, else
# '*'), then both REP verdicts exploded to (agent, kept) rows. The fold
# is operators/robots.py's own; the oracle's hand-derived outcomes pin
# the values.
_UC_RB_HOST_AGGS = (
    "collect_list(CASE WHEN __ag = '*' THEN rule END) AS __star",
    "max(__ag = 'trainingbot') AS __has_bot",
    "collect_list(CASE WHEN __ag = 'trainingbot' THEN rule END) AS __bot_rules",
)
_UC_RB_HOST_SEL = (
    "host AS __rules_host",
    "__star AS __rset",
    "CASE WHEN __has_bot THEN __bot_rules ELSE __star END AS __rset_bot",
)
_UC_RB_GROUP_AGGS = (
    "CAST(count(1) AS BIGINT) AS n_docs",
    "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept",
    "md5(concat_ws(',', transform(array_sort(collect_list("
    "CASE WHEN kept THEN doc_id END)), x -> CAST(x AS STRING)))) AS kept_fp",
)


_UC_DELAY_AGENTS = ("*", "trainingbot", "otherbot")


def _uc_delay_sql() -> tuple[list[str], str]:
    """The fused three-agent delays section: one groupBy over the parsed
    rules computes every agent's governing delay (named group wins even
    when it sets none — the * value must not leak through group
    exclusivity), then an explode emits one row per (host, agent).
    Same semantics as three robots_crawl_delays arms; the oracle
    hand-derives the values. Returns (aggregates, explode)."""
    delay = ("CASE WHEN rule_type = 'crawl-delay' "
             "THEN try_cast(value AS DOUBLE) END")
    aggs = []
    picks = []
    for i, a in enumerate(_UC_DELAY_AGENTS):
        aggs.append(f"max(agent = '{a}') AS __has{i}")
        aggs.append(f"max(CASE WHEN agent = '{a}' THEN {delay} END) AS __d{i}")
        # agent's governing delay: its own group's when one exists
        # (judged on ANY directive), else the * group's
        picks.append(f"named_struct('agent', '{a}', 'crawl_delay_sec', "
                     f"CASE WHEN __has{i} THEN __d{i} ELSE __d0 END)")
    return aggs, f"explode(array({', '.join(picks)})) AS __p"


@query("url_compliance_docs", oracle=_URL_COMPLIANCE_ORACLE)
def url_compliance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/crawl-compliance sections over documents, tag-unioned:

    ``psl`` (r12) — exact PSL registrable domains next to the heuristic
    (registrable_domain_psl's broadcast suffix-bitmask map; the oracle
    re-implements the full publicsuffix.org longest-match/wildcard/
    exception algorithm in SQL). ``canon`` (r12) — url_normalize
    crawl-URL canonicalization under the oracle: tracking params
    stripped, remaining params sorted, default ports and fragments
    dropped; the DuckDB side re-derives the same canonical form with
    its own list_filter/list_sort lambdas. ``robots`` (late r12) —
    the parse→decide REP pipeline (operators/robots.py) under the
    oracle, with the planted rule set's longest-match/wildcard/anchor/
    named-group outcomes HAND-DERIVED per path shape in the SQL.

    ``frontier`` (r13) — the crawl_frontier composition end-to-end:
    per-host robots payloads carry a ``Sitemap:`` pointer to a
    sitemapindex, which names the host's urlset; each document
    contributes one sitemap entry (even doc_ids a second,
    tracking-param twin entry; ``m=3`` paths an entity-escaped
    unsorted query), the REP filter drops the planted disallowed
    shapes, canonicalization merges the twins, and doc_id%10==2 rows
    subtract out as already-ingested. The oracle re-derives the
    surviving canonical URL set per host with the outcomes
    hand-derived per path shape (never a second REP evaluator).

    Reference anchor: the reference consumes one public API and never
    crawls (fetch_youtube_data.py:74-96); this row is the engine's
    crawl-corpus provenance surface (SURVEY §7 north star)."""
    from ..functions.urls import registrable_domain
    from ..operators.robots import crawl_frontier, parse_robots

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # psl section (r12): exact PSL registrable domains next to the
    # heuristic — VERDICT r11 item 3 under the same oracle row. A third
    # of the minted hosts land under a planted *.example.org wildcard
    # (the *.github.io shape): the heuristic collapses them all to
    # 'example.org' while the PSL keeps every srcN.example.org a
    # distinct registrable domain — exactly the over-merge that
    # distorts per-domain caps — and !src3.example.org exercises the
    # exception path. The DuckDB side re-implements the full
    # publicsuffix.org longest-match/wildcard/exception algorithm in
    # SQL; the Spark side is registrable_domain_psl's one-row broadcast
    # suffix-bitmask map (functions/urls.py — map-side, no corpus
    # shuffle).
    from ..functions.urls import registrable_domain_psl, url_host

    psl_rules = spark.createDataFrame(
        [(r,) for r in _PSL_RULES], "rule string")
    # r15: one wide second select replaces the two withColumns (each a
    # full analysis pass)
    psl_parsed = registrable_domain_psl(
        docs.selectExpr("doc_id", f"{_UC_PSL_URL} AS url")
        .selectExpr("doc_id", "url", f"{url_host('url')} AS host",
                    f"{registrable_domain('url')} AS heur_dom"),
        psl_rules,
    )
    psl_section = psl_parsed.groupBy(F.expr(_UC_PSL_KEY)).agg(
        *_uc_fp_aggs("host"),
    ).select(
        F.lit("psl").alias("section"), "key",
        "n_docs", "n_kept", "kept_fp",
    )
    # canon section (r12): url_normalize under the oracle — URLs minted
    # with tracking params, default/non-default ports, fragments, and
    # host-case variants; both engines canonicalize (strip trackers,
    # sort params, drop :443/#frag, case-fold host) and fingerprint the
    # distinct canonical set per (query-shape, port-shape) bucket.
    from ..functions.urls import url_normalize

    canon_section = (
        docs.selectExpr("doc_id", f"{_UC_CANON_URL} AS __cu")
        .selectExpr("doc_id", f"{url_normalize('__cu')} AS canon")
        .groupBy(F.expr(_UC_CANON_KEY))
        .agg(*_uc_fp_aggs("canon"))
        .select(F.lit("canon").alias("section"), "key",
                "n_docs", "n_kept", "kept_fp")
    )
    # robots section (r12): the WHOLE parse->decide REP pipeline under
    # the oracle. One robots.txt text is planted per host; documents
    # rows mint URLs whose paths hit every decision branch:
    #   m=0 '/p0'         -> * allowed,    bot allowed
    #   m=1 '/p1/x'       -> * disallowed (prefix rule), bot allowed
    #                        (named group shadows *)
    #   m=2 '/p1/ok.html' -> * allowed (LONGER Allow /p1/ok wins),
    #                        bot allowed
    #   m=3 '/p2/doc'     -> * allowed, bot disallowed (its group rule)
    #   m=4 '/file.pdf'   -> * disallowed (wildcard+anchor /*.pdf$),
    #                        bot allowed
    # The oracle carries these outcomes HAND-DERIVED per branch, so the
    # engine's longest-match fold is checked against the spec semantics
    # rather than a SQL re-implementation that could mirror-bug.

    # crawl-delays (r13 'delays' section): * sets 2, trainingbot sets
    # its own 7, otherbot's named group sets NONE — group exclusivity
    # means the * delay must NOT leak to it (no row). Delay rows are
    # invisible to the allow/deny fold, so the robots/frontier
    # sections' hand-derived outcomes are untouched.
    robots_txt = ("User-agent: *\nDisallow: /p1\nAllow: /p1/ok\n"
                  "Disallow: /*.pdf$\nCrawl-delay: 2\n\n"
                  "User-agent: trainingbot\nDisallow: /p2\n"
                  "Crawl-delay: 7\n\n"
                  "User-agent: otherbot\nDisallow: /x\n")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    # r15: the parsed rules relation is consumed FIVE times per action
    # (two robots verdict arms, three delay arms) and its subtree
    # carries the corpus-scale hosts distinct + the parser's windows —
    # persist the host-sized parse output so those replays read one
    # materialization (guide §2.4 remove shuffles outright; §5 reuse).
    robots_rules = parse_robots(
        hosts.withColumn("payload", F.lit(robots_txt))).persist()
    rb_urls = docs.selectExpr(
        "doc_id",
        f"concat('https://', source, '.example.com', {_UC_RB_PATH}) AS url",
        "concat(source, '.example.com') AS uhost",
    )

    # r15: BOTH agent arms in one pass — the per-host governing rule
    # arrays for '*' and 'trainingbot' aggregate in ONE groupBy over
    # the (tiny) rules relation, the URL table joins ONCE on its
    # (precomputed) host, both REP verdicts fold map-side, and an
    # explode to (agent, kept) rows feeds one (host, agent) aggregate
    # — replacing two filter_robots_allowed passes + two per-arm
    # groupBys + a union (2 rules scans + 2 corpus joins + 4 corpus
    # aggs -> 1 + 1 + 1; guide §2.4). The fold, the rule structs and
    # the group-exclusivity rule ('trainingbot' rows govern when any
    # exist, else '*') are the operator's own fragments; outcomes are
    # pinned by the oracle's hand-derived per-path-shape values.
    from ..operators.robots import _RULE_STRUCT, _rep_decision

    rb_scoped = robots_rules.filter(
        "agent IN ('*', 'trainingbot') AND rule_type != 'sitemap'"
    ).selectExpr("host", "agent AS __ag", _RULE_STRUCT)
    rb_per_host = rb_scoped.groupBy("host") \
        .agg(*[F.expr(a) for a in _UC_RB_HOST_AGGS]) \
        .selectExpr(*_UC_RB_HOST_SEL)
    rb_dec = rb_urls.join(
        rb_per_host, F.expr("uhost = __rules_host"), "left",
    ).selectExpr(
        "doc_id", "uhost",
        "explode(array("
        f"named_struct('agent', '*', 'kept', {_rep_decision('url')}), "
        "named_struct('agent', 'trainingbot', 'kept', "
        f"{_rep_decision('url', '__rset_bot')}))) AS __d",
    ).selectExpr("doc_id", "uhost", "__d.agent AS agent", "__d.kept AS kept")
    robots_section = rb_dec.groupBy("uhost", "agent") \
        .agg(*[F.expr(a) for a in _UC_RB_GROUP_AGGS]) \
        .selectExpr("'robots' AS section",
                    "concat_ws('|', uhost, agent) AS key",
                    "n_docs", "n_kept", "kept_fp")
    # delays section (r13): the governing Crawl-delay per agent arm
    # under the oracle — hand-derived (* -> 2, trainingbot -> its own
    # 7, otherbot -> NO row: its named group sets no delay and the *
    # value must not leak through group exclusivity). r15: the three
    # robots_crawl_delays arms fused into ONE groupBy over the
    # persisted rules + an explode to (host, agent, delay) rows —
    # 3 scans + 3 aggs + 2 unions -> 1 scan + 1 agg (guide §2.4);
    # semantics pinned by the oracle's hand-derived values.
    d_aggs, d_explode = _uc_delay_sql()
    delays_section = (
        robots_rules.filter("rule_type != 'sitemap'")
        .groupBy("host").agg(*[F.expr(a) for a in d_aggs])
        .selectExpr("host", d_explode)
        .selectExpr(
            "'delays' AS section",
            "concat_ws('|', host, __p.agent) AS key",
            "CAST(1 AS BIGINT) AS n_docs",
            "CAST(__p.crawl_delay_sec AS BIGINT) AS n_kept",
            "md5(CAST(CAST(__p.crawl_delay_sec AS BIGINT) AS STRING))"
            " AS kept_fp")
        .filter("n_kept IS NOT NULL")
    )

    # frontier section (r13): the provenance-complete seed-list
    # composition under the oracle. Fixture: per-host robots (the SAME
    # planted rule set as the robots section, plus a Sitemap pointer),
    # a one-level sitemapindex, and per-doc urlset entries exercising
    # entity decode, tracking-param twins, lastmod merge, REP drops,
    # and seen subtraction. The fixture samples a THIRD of documents
    # (doc_id % 3 == 0 — every path/twin/lastmod/seen shape survives,
    # 5, 2, 4 and 10 being coprime to 3): the other three sections
    # already run the full table, and the wiring proof does not need
    # the volume.
    fr_docs = docs.filter(did % 3 == 0)
    # 16 sub-sitemaps per host, named by the sitemapindex — the shape
    # sitemapindex EXISTS for (urlsets cap at 50k URLs), and it keeps
    # each fixture payload task-sized instead of one giant per-host
    # string serializing the parse into n_hosts tasks
    n_sm = 16
    (host_c, base_url, entries, idx_entries,
     fr_delay) = _uc_frontier_frags(n_sm)
    urlsets = (
        fr_docs.selectExpr(f"{host_c} AS host",
                           f"CAST(doc_id % {n_sm} AS INT) AS smk",
                           f"{entries} AS e")
        .groupBy("host", "smk")
        .agg(F.concat(F.lit("<urlset>"),
                      F.concat_ws("", F.collect_list("e")),
                      F.lit("</urlset>")).alias("payload"))
    )
    fetches = fr_docs.selectExpr(f"{host_c} AS host").distinct().selectExpr(
        "concat('https://', host, '/smidx.xml') AS url",
        f"concat('<sitemapindex>', {idx_entries}, '</sitemapindex>')"
        " AS payload",
    ).unionByName(urlsets.select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sm"),
                 F.col("smk").cast("string"),
                 F.lit(".xml")).alias("url"),
        "payload",
    ))
    # r14: the frontier fixture's * group carries a PER-HOST
    # Crawl-delay (2 + len(host) % 3 — varies across hosts) so the
    # frontier's host-keyed delay join is checked cross-host: a
    # swapped or broken join key produces the wrong delay in the
    # fingerprint. Hand-derived in the oracle SQL, never a second
    # delay evaluator. Substituted INTO the * group (not appended —
    # an appended line would join otherbot's group).
    _pre, _post = robots_txt.split("Crawl-delay: 2\n", 1)
    # r15: persisted like robots_rules above — crawl_frontier consumes
    # the rules relation three times (sitemap pointers, the REP filter,
    # the delay join); one host-sized materialization replaces three
    # replays of the corpus-scale hosts distinct + parser windows.
    fr_rules = parse_robots(
        hosts.withColumn(
            "payload",
            F.concat(F.lit(_pre), F.lit("Crawl-delay: "),
                     F.expr(f"CAST({fr_delay} AS STRING)"), F.lit("\n"),
                     F.lit(_post),
                     F.lit("\nSitemap: https://"), F.col("host"),
                     F.lit("/smidx.xml\n")))).persist()
    seen = fr_docs.filter(did % 10 == 2).selectExpr(f"{base_url} AS url")
    frontier = crawl_frontier(fr_rules, fetches, seen=seen)
    totals_f = fr_docs.groupBy(F.expr(f"{host_c} AS host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    fr_agg = frontier.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat(F.col("url"), F.lit("|"),
                     F.coalesce(F.col("lastmod"), F.lit("-")),
                     F.lit("|"),
                     F.coalesce(F.col("crawl_delay_sec").cast("long")
                                .cast("string"), F.lit("-")))))))
        .alias("kept_fp"))
    frontier_section = totals_f.join(fr_agg, "host", "left").select(
        F.lit("frontier").alias("section"),
        F.col("host").alias("key"),
        "n_docs",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
        .alias("n_kept"),
        F.coalesce(F.col("kept_fp"), F.md5(F.lit(""))).alias("kept_fp"),
    )
    return psl_section.unionByName(canon_section) \
        .unionByName(robots_section).unionByName(delays_section) \
        .unionByName(frontier_section)
