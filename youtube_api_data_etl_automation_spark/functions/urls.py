"""URL analysis as SQL expression builders — the curation pipeline's
provenance axis.

Web-corpus curation is organized by WHERE a document came from: domain
frequency caps (operators/capping.py), per-domain quality priors,
blocklist filtering, and source-stratified sampling all key on the
registrable domain. This module extracts those keys JVM-side
(regexp/split SQL builders — zero Python in the hot path, the same
posture and the same SQL-text-in, SQL-text-out contract as
functions/text.py) and keeps every expression replayable in ANSI SQL so
the DuckDB oracle can re-derive it.

``registrable_domain`` uses a HEURISTIC public-suffix rule: the full
Public Suffix List is a living database (thousands of entries,
revisioned) that a from-scratch engine should not fossilize; instead a
curated set of the common two-label country suffixes (co.uk, com.au,
co.jp, …) catches the dominant cases and everything else falls back to
the last two labels. The suffix set is an explicit constant — swap in
the full PSL as a broadcast join if exactness matters for a corpus.
"""

from __future__ import annotations

from .text import sql_str_array

# scheme://[userinfo@]host[:port]/...  — host stops at : / ? #
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)"
_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)"

# common two-label public suffixes (heuristic subset — see module doc)
TWO_LABEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.tw", "com.hk", "com.sg",
    "co.in", "net.in", "org.in",
    "co.kr", "or.kr", "co.za", "org.za", "co.nz", "net.nz", "org.nz",
    "com.co", "com.pe", "com.ve", "com.my", "com.ph", "com.vn",
    "co.th", "co.id", "com.eg", "com.sa", "com.ua",
)


def url_scheme(url: str) -> str:
    """Lower-cased scheme, empty string for schemeless input."""
    return f"lower(regexp_extract({url}, r'{_SCHEME_RE}', 1))"


def url_host(url: str) -> str:
    """Lower-cased hostname: userinfo and port stripped, one trailing
    dot removed (``example.com.`` is the same authority). Empty string
    when the input has no ``scheme://`` authority at all."""
    host = f"lower(regexp_extract({url}, r'{_HOST_RE}', 1))"
    return rf"regexp_replace({host}, r'\.$', '')"


def url_path(url: str) -> str:
    """The path component (query/fragment excluded); empty for bare
    authority URLs."""
    return f"regexp_extract({url}, r'{_PATH_RE}', 1)"


def url_tld(url: str) -> str:
    """Last host label (``uk``, ``com``); empty when there is no dot
    (bare hostnames, IPv4 literals return their last octet — filter
    those upstream if it matters)."""
    host = url_host(url)
    return (f"CASE WHEN contains({host}, '.') "
            rf"THEN element_at(split({host}, r'\.'), -1) ELSE '' END")


def registrable_domain(url: str) -> str:
    """The owner-registerable domain: last two host labels, or three
    when the last two form a known two-label public suffix
    (``a.b.co.uk`` → ``b.co.uk``). Hosts without a dot (and empty
    hosts) pass through unchanged."""
    host = url_host(url)
    labels = rf"split({host}, r'\.')"
    last2 = (f"concat_ws('.', element_at({labels}, -2), "
             f"element_at({labels}, -1))")
    last3 = (f"concat_ws('.', element_at({labels}, -3), "
             f"element_at({labels}, -2), element_at({labels}, -1))")
    return (f"CASE WHEN size({labels}) <= 1 THEN {host} "
            f"WHEN size({labels}) >= 3 AND array_contains("
            f"{sql_str_array(TWO_LABEL_SUFFIXES)}, {last2}) THEN {last3} "
            f"ELSE {last2} END")


# query parameters that carry tracking state, not content identity —
# the standard strip set for crawl URL canonicalization (utm_* by
# prefix, the rest exact)
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = (
    "fbclid", "gclid", "gclsrc", "dclid", "msclkid", "mc_cid",
    "mc_eid", "igshid", "yclid", "twclid", "ref_src", "spm",
)

# anchored to the pre-fragment prefix: a '?' that first appears inside
# the fragment ('/#/route?tab=1') is NOT a query (r12 review fix)
_QUERY_RE = r"^[^#?]*\?([^#]*)"
_AUTHORITY_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
_PORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/@?#]*@)?[^/:?#]+:(\d+)"
_PORT_DEFAULTS = (("http", "80"), ("https", "443"))


def url_normalize(url: str) -> str:
    """Canonical URL for URL-keyed dedup: lower-cased scheme and host
    (path case preserved — it is significant), userinfo kept out of the
    host (it stays in the original column; the canonical form drops
    it), default ports stripped (``http:80`` / ``https:443``), the
    fragment dropped, tracking query parameters removed (``utm_*`` by
    prefix plus the exact :data:`TRACKING_PARAMS` set), remaining
    parameters SORTED bytewise, ``?`` dropped when the query empties,
    and a bare-authority empty path canonicalized to ``/``. Everything
    is SQL array math (split/filter/array_sort/concat) — zero Python —
    and each step is replayable in ANSI SQL for the oracle.

    Two crawls of ``HTTP://Site.com/a?utm_source=x&b=2&a=1#frag`` and
    ``http://site.com:80/a?a=1&b=2`` collapse to the same key — the
    dedup win this exists for. Non-URL rows (no ``scheme://``) and
    bracketed IPv6 authorities (``http://[::1]:8080/``, which the
    host/port regexes cannot split — r12 review fix: corrupting them
    would MERGE distinct hosts into one dedup key) pass through
    unchanged so the column stays total and never invents collisions."""
    scheme = url_scheme(url)
    host = url_host(url)
    path = url_path(url)
    query = f"regexp_extract({url}, r'{_QUERY_RE}', 1)"
    port = f"regexp_extract({url}, r'{_PORT_RE}', 1)"
    keep_port = f"{port} != ''" + "".join(
        f" AND NOT ({scheme} = '{sch}' AND {port} = '{dflt}')"
        for sch, dflt in _PORT_DEFAULTS)
    # the probe value is never NULL (it comes from split), so
    # array_contains on one array literal is an exact membership test;
    # the prefix set keeps exists + startswith
    key = "split(p, '=')[0]"
    params = (
        f"filter(split({query}, '&'), p -> p != '' AND NOT array_contains("
        f"{sql_str_array(TRACKING_PARAMS)}, {key}) AND NOT exists("
        f"{sql_str_array(TRACKING_PARAM_PREFIXES)}, "
        f"t -> startswith({key}, t)))")
    canon_query = f"concat_ws('&', array_sort({params}))"
    canon = (
        f"concat({scheme}, '://', {host}, "
        f"CASE WHEN {keep_port} THEN concat(':', {port}) ELSE '' END, "
        f"CASE WHEN {path} = '' THEN '/' ELSE {path} END, "
        f"CASE WHEN {canon_query} != '' THEN concat('?', {canon_query}) "
        "ELSE '' END)")
    authority = f"regexp_extract({url}, r'{_AUTHORITY_RE}', 1)"
    return (f"CASE WHEN {host} = '' OR contains({authority}, '[') "
            f"THEN {url} ELSE {canon} END")


# hosts deeper than this many labels still match a blocklist entry on
# their trailing 8 labels — deeper-than-8 subdomain chains are
# vanishingly rare and an entry that deep is not a sane blocklist line
_MAX_SUFFIX_LABELS = 8


def host_suffixes(url: str) -> str:
    """All label-aligned suffixes of the URL's host, shortest first
    (``a.b.example.com`` → [com, example.com, b.example.com,
    a.b.example.com]) — the match keys a domain blocklist joins on.
    Label-aligned by construction (substring_index), so
    ``notexample.com`` never matches a blocklist entry ``example.com``.
    Bounded at 8 labels; empty hosts yield an empty array."""
    host = url_host(url)
    sufs = ", ".join(f"substring_index({host}, '.', -{k})"
                     for k in range(1, _MAX_SUFFIX_LABELS + 1))
    return (f"CASE WHEN {host} = '' THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE array_distinct(array({sufs})) END")


def registrable_domain_psl(df, psl, url_col: str = "url",
                           out_col: str = "registrable_domain_psl"):
    """EXACT registrable domain against a Public Suffix List relation —
    the opt-in precision upgrade of :func:`registrable_domain`'s
    heuristic (VERDICT r11 item 3: PSL-listed hosts like ``*.github.io``
    must NOT collapse to one "domain" in per-domain caps or
    domain-stratified sampling).

    ``psl`` is a one-column DataFrame of PSL rule lines (column
    ``rule``): plain suffixes (``com``, ``co.uk``), wildcards
    (``*.ck`` — every single label under ``ck`` is a public suffix),
    and exceptions (``!www.ck`` — carves a registrable domain back out
    of a wildcard). Comment lines (``// …``) and blanks are ignored, so
    the raw PSL file parses as-is.

    Semantics follow publicsuffix.org/list/: among matching rules the
    longest wins, exceptions beat everything; with no match the default
    rule ``*`` applies (last label is the public suffix). The
    registrable domain is the public suffix plus one label; a host that
    IS a public suffix — or has no dot at all — yields NULL (this is
    the one deliberate delta from the heuristic, which passes bare
    hosts through: NULL is what "no registrable owner" means).

    Plan: the rule list folds to ONE broadcast row holding a
    ``suffix → rule-kind bitmask`` map (the ~10k-entry real PSL is a
    few hundred KB — trivially broadcastable); each corpus row probes
    the map with its label-aligned host suffixes (bounded at
    ``_MAX_SUFFIX_LABELS`` = 8, like :func:`host_suffixes`) via
    ``transform``/``aggregate`` Column math. Map-side only: the corpus
    never shuffles.
    """
    from pyspark.sql import functions as _F

    # rule lines → (key, kind bitmask): 1=normal, 2=wildcard (key is the
    # base under the *), 4=exception (key is the full rule; the public
    # suffix it yields is the rule minus its leftmost label)
    prep = (
        psl.select(_F.lower(_F.trim(_F.col("rule"))).alias("rule"))
        .filter((_F.col("rule") != "")
                & (~_F.col("rule").startswith("//")))
        .select(
            _F.when(_F.col("rule").startswith("!"), _F.lit(4))
            .when(_F.col("rule").startswith("*."), _F.lit(2))
            .otherwise(_F.lit(1)).alias("flag"),
            _F.regexp_replace(_F.col("rule"), r"^(!|\*\.)", "")
            .alias("key"),
        )
        .groupBy("key")
        .agg(_F.expr("bit_or(flag)").alias("flags"))
    )
    rules_row = prep.agg(
        _F.map_from_arrays(
            _F.collect_list("key"), _F.collect_list("flags")
        ).alias("_psl"))

    host = _F.expr(url_host(url_col))
    labels = _F.split(host, r"\.")
    n_labels = _F.size(labels)
    sufs = _F.expr(host_suffixes(url_col))  # entry i (1-based): i labels
    cand = _F.transform(
        sufs,
        lambda s, i: _F.struct(
            (i + 1).alias("n"),
            _F.coalesce(_F.element_at(_F.col("_psl"), s), _F.lit(0))
            .alias("flags"),
        ),
    )
    # fold the matches: ps = labels in the prevailing public suffix
    # (normal rule of n labels → n; wildcard base of n labels → n+1,
    # valid only when the host has a label to fill the *), exceptions
    # tracked separately because they override any length
    acc = _F.aggregate(
        cand,
        _F.struct(_F.lit(1).alias("ps"), _F.lit(-1).alias("exc")),
        lambda a, c: _F.struct(
            _F.greatest(
                a["ps"],
                _F.when(c["flags"].bitwiseAND(1) != 0, c["n"])
                .otherwise(_F.lit(0)),
                _F.when(
                    (c["flags"].bitwiseAND(2) != 0)
                    & (n_labels > c["n"]),
                    c["n"] + 1,
                ).otherwise(_F.lit(0)),
            ).alias("ps"),
            _F.greatest(
                a["exc"],
                _F.when(c["flags"].bitwiseAND(4) != 0, c["n"] - 1)
                .otherwise(_F.lit(-1)),
            ).alias("exc"),
        ),
    )
    ps = _F.when(acc["exc"] >= 0, acc["exc"]).otherwise(acc["ps"])
    dom = _F.when(
        (host != "") & (n_labels > ps),
        _F.concat_ws(".", _F.slice(labels, n_labels - ps, ps + 1)),
    )
    return (
        df.join(_F.broadcast(rules_row))
        .withColumn(out_col, dom)
        .drop("_psl")
    )
