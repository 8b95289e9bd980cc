"""robots.txt operators (operators/robots.py): RFC 9309 group
recovery, longest-match allow/deny with wildcards and end anchors,
specific-agent shadowing, crawl-delay/sitemap extraction — against a
hand-written reference evaluator and hand-picked cases."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators import robots as R

ROBOTS_A = b"""\
# global comment
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Disallow: /*.pdf$
Crawl-delay: 2

User-agent: trainingbot
User-agent: otherbot
Disallow: /no-train/
Allow: /

Sitemap: https://a.com/sitemap.xml
Sitemap: https://a.com/sitemap2.xml
unknown-directive: ignored
"""

ROBOTS_B = b"""\
Disallow: /orphan-before-any-group/
User-Agent: *
disallow: /b-only/   # trailing comment
"""


def _rules(spark):
    df = spark.createDataFrame(
        [("a.com", bytearray(ROBOTS_A)), ("b.com", bytearray(ROBOTS_B))],
        "host string, payload binary")
    return R.parse_robots(df)


def test_parse_groups_agents_and_directives(spark):
    rows = _rules(spark).collect()
    tuples = {(r["host"], r["agent"], r["rule_type"], r["value"])
              for r in rows}
    # the * group of a.com
    assert ("a.com", "*", "disallow", "/private/") in tuples
    assert ("a.com", "*", "allow", "/private/ok.html") in tuples
    assert ("a.com", "*", "disallow", "/*.pdf$") in tuples
    assert ("a.com", "*", "crawl-delay", "2") in tuples
    # the two-agent group shares its rules
    for agent in ("trainingbot", "otherbot"):
        assert ("a.com", agent, "disallow", "/no-train/") in tuples
        assert ("a.com", agent, "allow", "/") in tuples
    # sitemaps are group-independent (NULL agent)
    assert ("a.com", None, "sitemap", "https://a.com/sitemap.xml") \
        in tuples
    # the orphan rule before any User-agent line is ignored
    assert not any(v == "/orphan-before-any-group/"
                   for _, _, _, v in tuples)
    # case-insensitive directives, comment stripping
    assert ("b.com", "*", "disallow", "/b-only/") in tuples
    # unknown directives never surface
    assert not any(t == "unknown-directive" for _, _, t, _ in tuples)


def _reference_allowed(path, rules, agent):
    """Independent REP evaluator: most specific group, longest match,
    allow wins ties, no match => allowed."""
    agent = agent.lower()
    named = [r for r in rules if r[0] == agent]
    pool = named if named else [r for r in rules if r[0] == "*"]
    best_len, allowed = -1, True
    for _, is_allow, pattern in pool:
        if not pattern:
            continue
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = "^" + re.escape(body).replace(r"\*", ".*") \
            + ("$" if anchored else "")
        if re.match(rx, path):
            ln = len(pattern)
            if ln > best_len or (ln == best_len and is_allow):
                best_len, allowed = ln, is_allow
    return allowed


def test_filter_allowed_end_to_end(spark):
    rules = _rules(spark)
    urls = [
        # (url, allowed for *, allowed for trainingbot)
        ("https://a.com/", True, True),
        ("https://a.com/private/secret.html", False, True),
        ("https://a.com/private/ok.html", True, True),
        ("https://a.com/paper.pdf", False, True),
        ("https://a.com/paper.pdf?x=1", True, True),  # $ anchor
        ("https://a.com/deep/a.pdf", False, True),    # * wildcard
        ("https://a.com/no-train/doc", True, False),
        ("https://b.com/b-only/x", False, False),
        ("https://b.com/fine", True, True),
        ("https://unknown.com/whatever", True, True),  # no rules
        ("not a url", True, True),                     # hostless row
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(urls)],
        "i long, url string")
    for agent, idx in (("*", 1), ("TrainingBot", 2)):
        kept = sorted(r["i"] for r in
                      R.filter_robots_allowed(df, rules, agent=agent)
                      .collect())
        want = sorted(i for i, row in enumerate(urls) if row[idx])
        assert kept == want, (agent, kept, want)
        dropped = sorted(r["i"] for r in R.filter_robots_allowed(
            df, rules, agent=agent, keep_disallowed=True).collect())
        assert sorted(dropped + kept) == list(range(len(urls)))


def test_longest_match_and_tie_semantics(spark):
    """allow wins exact-length ties; otherwise longest pattern wins
    regardless of order."""
    txt = (b"User-agent: *\n"
           b"Disallow: /a/\n"
           b"Allow: /a/b/\n"       # longer allow re-opens the subtree
           b"Disallow: /a/b/c/\n"  # longest disallow closes deeper
           b"Allow: /t/x\n"
           b"Disallow: /t/x\n")    # exact tie: allow wins
    rules = R.parse_robots(spark.createDataFrame(
        [("h.com", bytearray(txt))], "host string, payload binary"))
    cases = {
        "https://h.com/a/q": False,
        "https://h.com/a/b/q": True,
        "https://h.com/a/b/c/q": False,
        "https://h.com/t/x": True,
    }
    df = spark.createDataFrame(list(enumerate(cases)), "i long, url string")
    kept = {r["i"] for r in
            R.filter_robots_allowed(df, rules).collect()}
    for i, (u, want) in enumerate(cases.items()):
        assert (i in kept) == want, u


def test_random_differential_vs_reference(spark):
    """Seeded random rule sets and paths vs the independent Python
    evaluator — one Spark pass over ~300 URLs."""
    import random

    rng = random.Random(77)
    segs = ["a", "b", "cgi", "img", "x1", "data"]
    rules_rows = []
    rule_model = {}  # host -> [(agent, is_allow, pattern)]
    for h in range(6):
        host = f"h{h}.com"
        model = []
        for _ in range(rng.randint(2, 7)):
            agent = rng.choice(["*", "*", "trainingbot"])
            is_allow = rng.random() < 0.4
            depth = rng.randint(1, 3)
            pat = "/" + "/".join(rng.choice(segs) for _ in range(depth))
            style = rng.random()
            if style < 0.25:
                pat = pat.replace("/" + pat.split("/")[1], "/*", 1)
            elif style < 0.4:
                pat += "$"
            elif style < 0.55:
                pat += "/"
            model.append((agent, is_allow, pat))
            rules_rows.append(
                (host, agent, "allow" if is_allow else "disallow", pat))
        rule_model[host] = model
    rules = spark.createDataFrame(
        rules_rows, "host string, agent string, rule_type string, "
                    "value string")
    urls = []
    for i in range(300):
        host = f"h{rng.randint(0, 6)}.com"  # h6 has no rules
        depth = rng.randint(0, 4)
        path = "/" + "/".join(rng.choice(segs) for _ in range(depth))
        urls.append((i, f"https://{host}{path}"))
    df = spark.createDataFrame(urls, "i long, url string")
    for agent in ("*", "trainingbot"):
        kept = {r["i"] for r in
                R.filter_robots_allowed(df, rules, agent=agent)
                .collect()}
        for i, u in urls:
            host = u.split("//")[1].split("/")[0]
            path = "/" + u.split("//")[1].split("/", 1)[1] \
                if "/" in u.split("//")[1] else "/"
            want = _reference_allowed(
                path, rule_model.get(host, []), agent)
            assert (i in kept) == want, (agent, u)


def test_crawl_delay_and_sitemaps(spark):
    rules = _rules(spark)
    delays = {r["host"]: r["crawl_delay_sec"]
              for r in R.robots_crawl_delays(rules).collect()}
    assert delays == {"a.com": 2.0}
    maps = sorted(r["sitemap_url"]
                  for r in R.robots_sitemaps(rules).collect())
    assert maps == ["https://a.com/sitemap.xml",
                    "https://a.com/sitemap2.xml"]


def test_plan_no_corpus_shuffle(spark):
    """The decision is a host hash-join + map-side fold: no Exchange
    keyed on the corpus row identity, no nested loop."""
    rules = _rules(spark)
    df = spark.createDataFrame([(1, "https://a.com/x")],
                               "i long, url string")
    plan = R.filter_robots_allowed(df, rules)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_composition_with_warc_ingestion(spark):
    """The intended pipeline seam: documents built from WARC responses
    carry the crawl URI in `source`; robots filtering applies
    retroactively at curation time via url_col='source'."""
    import sys
    sys.path.insert(0, "tests")
    from test_archives import _http_response, _warc_documents, _warc_record

    recs = []
    for uri, body in (
        ("https://a.com/private/page", b"<p>secret text</p>"),
        ("https://a.com/public/page", b"<p>public text</p>"),
    ):
        recs.append(_warc_record(
            "response", _http_response(body), uri=uri,
            extra=(b"Content-Type: application/http;msgtype=response",)))
    warc = b"".join(recs)
    blobs = spark.createDataFrame([(1, bytearray(warc))],
                                  "doc_id long, payload binary")
    docs = _warc_documents(blobs)
    assert docs.count() == 2
    rules = _rules(spark)
    kept = R.filter_robots_allowed(docs, rules, url_col="source") \
        .collect()
    assert [r["source"] for r in kept] == ["https://a.com/public/page"]
    assert "public text" in kept[0]["text"]


def test_parse_sitemaps(spark):
    urlset = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> https://a.com/page?x=1&amp;y=2 </loc>
    <lastmod>2024-01-02</lastmod>
  </url>
  <url><loc>https://a.com/plain</loc></url>
</urlset>"""
    index = b"""<sitemapindex>
  <sitemap><loc>https://b.com/sitemap-1.xml</loc></sitemap>
  <sitemap><loc>https://b.com/sitemap-2.xml</loc>
  <lastmod>2023-12-31</lastmod></sitemap>
</sitemapindex>"""
    df = spark.createDataFrame(
        [("a.com", bytearray(urlset)), ("b.com", bytearray(index)),
         ("c.com", bytearray(b"not xml at all"))],
        "host string, payload binary")
    rows = R.parse_sitemaps(df).collect()
    got = {(r["host"], r["kind"], r["url"], r["lastmod"]) for r in rows}
    assert got == {
        ("a.com", "urlset", "https://a.com/page?x=1&y=2", "2024-01-02"),
        ("a.com", "urlset", "https://a.com/plain", None),
        ("b.com", "sitemapindex", "https://b.com/sitemap-1.xml", None),
        ("b.com", "sitemapindex", "https://b.com/sitemap-2.xml",
         "2023-12-31"),
    }


def test_warc_robots_rules_composition(spark):
    """robots.txt captured inside a WARC parses into rules keyed by
    the capture host; non-robots responses are ignored."""
    import sys
    sys.path.insert(0, "tests")
    from test_archives import _http_response, _warc_record

    recs = [
        _warc_record(
            "response", _http_response(ROBOTS_A,
                                       ctype="text/plain"),
            uri="https://a.com/robots.txt",
            extra=(b"Content-Type: application/http;msgtype=response",)),
        _warc_record(
            "response", _http_response(b"<p>a page</p>"),
            uri="https://a.com/index.html",
            extra=(b"Content-Type: application/http;msgtype=response",)),
        _warc_record(
            "response",
            _http_response(b"gone", status=404),
            uri="https://gone.com/robots.txt",
            extra=(b"Content-Type: application/http;msgtype=response",)),
    ]
    blobs = spark.createDataFrame(
        [(1, bytearray(b"".join(recs)))], "doc_id long, payload binary")
    rules = R.warc_robots_rules(blobs)
    rows = rules.collect()
    hosts = {r["host"] for r in rows}
    assert hosts == {"a.com"}  # 404 robots and the html page drop
    tuples = {(r["agent"], r["rule_type"], r["value"]) for r in rows}
    assert ("*", "disallow", "/private/") in tuples
    # and the parsed rules drive the allow/deny filter end-to-end
    urls = spark.createDataFrame(
        [(1, "https://a.com/private/x"), (2, "https://a.com/ok")],
        "i long, url string")
    kept = [r["i"] for r in
            R.filter_robots_allowed(urls, rules).collect()]
    assert kept == [2]


def test_bom_prefixed_robots(spark):
    """r12 review fix: a UTF-8 BOM before 'User-agent' must not void
    the first group."""
    bom_txt = b"\xef\xbb\xbfUser-agent: *\nDisallow: /private/\n"
    rules = R.parse_robots(spark.createDataFrame(
        [("h.com", bytearray(bom_txt))], "host string, payload binary"))
    got = {(r["agent"], r["rule_type"], r["value"])
           for r in rules.collect()}
    assert ("*", "disallow", "/private/") in got
    # string payloads carry the real U+FEFF form
    rules2 = R.parse_robots(spark.createDataFrame(
        [("h.com", "﻿User-agent: *\nDisallow: /x/")],
        "host string, payload string"))
    assert ("*", "disallow", "/x/") in {
        (r["agent"], r["rule_type"], r["value"])
        for r in rules2.collect()}


def test_multiple_payloads_same_host_parse_independently(spark):
    """r12 review fix: two different captures of one host must not
    interleave — each file's group structure stays intact (rules are
    the union; warc_robots_rules picks one capture upstream)."""
    cap1 = b"User-agent: *\nDisallow: /a\n"
    cap2 = b"User-agent: bot\nDisallow: /b\n"
    rules = R.parse_robots(spark.createDataFrame(
        [("h.com", bytearray(cap1)), ("h.com", bytearray(cap2)),
         ("h.com", bytearray(cap1))],  # identical dup: deduplicated
        "host string, payload binary"))
    got = sorted((r["agent"], r["value"])
                 for r in rules.collect() if r["rule_type"] == "disallow")
    # NO cross-product: * never gets /b, bot never gets /a, no dups
    assert got == [("*", "/a"), ("bot", "/b")]


def test_warc_robots_last_capture_wins(spark):
    import sys
    sys.path.insert(0, "tests")
    from test_archives import _http_response, _warc_record

    old = b"User-agent: *\nDisallow: /old/\n"
    new = b"User-agent: *\nDisallow: /new/\n"
    recs = [
        _warc_record(
            "response", _http_response(old, ctype="text/plain"),
            uri="https://h.com/robots.txt",
            extra=(b"Content-Type: application/http;msgtype=response",)),
        _warc_record(
            "response", _http_response(new, ctype="text/plain"),
            uri="https://h.com/robots.txt",
            extra=(b"Content-Type: application/http;msgtype=response",)),
    ]
    blobs = spark.createDataFrame(
        [(1, bytearray(b"".join(recs)))], "doc_id long, payload binary")
    vals = {r["value"] for r in R.warc_robots_rules(blobs).collect()}
    assert vals == {"/new/"}


def test_filter_preserves_caller_host_column(spark):
    """r12 review fix: a caller-owned 'host' column must survive the
    rules join."""
    rules = _rules(spark)
    urls = spark.createDataFrame(
        [(1, "https://a.com/private/x", "a.com"),
         (2, "https://a.com/ok", "a.com")],
        "i long, url string, host string")
    out = R.filter_robots_allowed(urls, rules)
    rows = out.collect()
    assert out.columns == ["i", "url", "host"]
    assert [(r["i"], r["host"]) for r in rows] == [(2, "a.com")]


def test_crawl_delay_group_exclusive(spark):
    """r12 review fix: a named group without a delay must NOT inherit
    the * group's delay."""
    txt = (b"User-agent: trainingbot\nDisallow: /x\n\n"
           b"User-agent: *\nCrawl-delay: 10\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("h.com", bytearray(txt))], "host string, payload binary"))
    named = R.robots_crawl_delays(rules, agent="trainingbot").collect()
    assert named == []  # the governing group sets no delay
    star = {r["host"]: r["crawl_delay_sec"]
            for r in R.robots_crawl_delays(rules).collect()}
    assert star == {"h.com": 10.0}


def test_named_group_without_rules_still_shadows_star(spark):
    """r12 review fix: a named group whose directives all filter out
    (empty Disallow = allow-all, or crawl-delay only) must still be
    group-exclusive — the * group's rules may not leak in."""
    txt = (b"User-agent: trainingbot\nDisallow:\n\n"
           b"User-agent: crawldelaybot\nCrawl-delay: 3\n\n"
           b"User-agent: *\nDisallow: /\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("h.com", bytearray(txt))], "host string, payload binary"))
    urls = spark.createDataFrame([(1, "https://h.com/anything")],
                                 "i long, url string")
    for agent in ("trainingbot", "crawldelaybot"):
        kept = [r["i"] for r in
                R.filter_robots_allowed(urls, rules,
                                        agent=agent).collect()]
        assert kept == [1], agent  # named group governs: allowed
    assert R.filter_robots_allowed(urls, rules).collect() == []


def test_filter_preserves_caller_rset_column(spark):
    """r13 ADVICE: the decision-fold intermediate is now '__rset'; a
    caller URL table that already owns a plain 'rset' column must
    survive filter_robots_allowed with that column intact."""
    rules = R.parse_robots(spark.createDataFrame(
        [("a.com", ROBOTS_A)], "host string, payload binary"))
    urls = spark.createDataFrame(
        [("https://a.com/ok", "keep-me"),
         ("https://a.com/private/x", "dropped")],
        "url string, rset string")
    out = R.filter_robots_allowed(urls, rules).collect()
    assert [(r["url"], r["rset"]) for r in out] == [
        ("https://a.com/ok", "keep-me")]


def test_crawl_frontier_end_to_end(spark):
    """r13: robots Sitemap pointers -> fetched sitemap payloads
    (one sitemapindex indirection) -> canonical URLs -> REP filter
    -> seen subtraction, with provenance (unreferenced sitemaps
    contribute nothing) and cross-host rows keyed by the URL's own
    host."""
    robots = (b"User-agent: *\nDisallow: /private/\n"
              b"Sitemap: https://a.com/sitemap_index.xml\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("a.com", robots)], "host string, payload binary"))

    index_xml = (
        "<sitemapindex><sitemap>"
        "<loc>https://a.com/sm1.xml</loc></sitemap>"
        "<sitemap><loc>https://a.com/sm2.xml</loc></sitemap>"
        "</sitemapindex>")
    sm1 = ("<urlset>"
           "<url><loc>https://a.com/page1</loc>"
           "<lastmod>2026-01-02</lastmod></url>"
           "<url><loc>https://a.com/private/x</loc></url>"
           "<url><loc>https://other.com/cross</loc></url>"
           "</urlset>")
    sm2 = ("<urlset>"
           "<url><loc>https://a.com/page1?utm_source=x</loc>"
           "<lastmod>2026-02-03</lastmod></url>"
           "<url><loc>https://a.com/page2#frag</loc></url>"
           "</urlset>")
    orphan = ("<urlset><url><loc>https://a.com/orphan</loc></url>"
              "</urlset>")
    fetches = spark.createDataFrame(
        [("https://a.com/sitemap_index.xml", index_xml),
         ("https://a.com/sm1.xml", sm1),
         ("https://a.com/sm2.xml", sm2),
         ("https://a.com/unreferenced.xml", orphan)],
        "url string, payload string")

    out = R.crawl_frontier(rules, fetches).collect()
    got = {r["url"]: (r["host"], r["lastmod"]) for r in out}
    # /private/x dropped by REP; duplicate page1 canonical-merged with
    # max lastmod; tracking param and fragment stripped; orphan absent
    assert got == {
        "https://a.com/page1": ("a.com", "2026-02-03"),
        "https://a.com/page2": ("a.com", None),
        "https://other.com/cross": ("other.com", None),
    }
    # seen subtraction on the canonical key
    seen = spark.createDataFrame(
        [("https://a.com/page1?utm_medium=y",)], "url string")
    left = {r["url"] for r in
            R.crawl_frontier(rules, fetches, seen=seen).collect()}
    assert left == {"https://a.com/page2", "https://other.com/cross"}


def test_crawl_frontier_seen_url_col(spark):
    """r13 review fix: url_col names the SEEN table's column only; the
    fetch table keeps its documented (url, payload) contract."""
    robots = (b"User-agent: *\n"
              b"Sitemap: https://a.com/sm.xml\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("a.com", robots)], "host string, payload binary"))
    fetches = spark.createDataFrame(
        [("https://a.com/sm.xml",
          "<urlset><url><loc>https://a.com/p1</loc></url>"
          "<url><loc>https://a.com/p2</loc></url></urlset>")],
        "url string, payload string")
    seen = spark.createDataFrame(
        [("https://a.com/p2",)], "source string")
    left = {r["url"] for r in R.crawl_frontier(
        rules, fetches, seen=seen, url_col="source").collect()}
    assert left == {"https://a.com/p1"}


def test_crawl_frontier_delay_column(spark):
    """r14 (VERDICT r13 item 2): frontier rows carry the agent's
    governing Crawl-delay per host; hosts with no governing delay
    (cross-host rows whose own robots set none) stay NULL."""
    robots = (b"User-agent: *\nCrawl-delay: 4\n"
              b"Sitemap: https://a.com/sm.xml\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("a.com", robots)], "host string, payload binary"))
    fetches = spark.createDataFrame(
        [("https://a.com/sm.xml",
          "<urlset><url><loc>https://a.com/p1</loc></url>"
          "<url><loc>https://other.com/x</loc></url></urlset>")],
        "url string, payload string")
    out = {r["host"]: r["crawl_delay_sec"]
           for r in R.crawl_frontier(rules, fetches).collect()}
    assert out == {"a.com": 4.0, "other.com": None}


def test_crawl_frontier_delay_agent_scoped(spark):
    """The delay join honors group exclusivity for the crawling
    agent: a named group's own delay wins; the * delay must not
    leak into a named group that sets none."""
    robots = (b"User-agent: *\nCrawl-delay: 2\n\n"
              b"User-agent: fastbot\nDisallow: /x\n\n"
              b"User-agent: slowbot\nCrawl-delay: 9\n"
              b"Sitemap: https://a.com/sm.xml\n")
    rules = R.parse_robots(spark.createDataFrame(
        [("a.com", robots)], "host string, payload binary"))
    fetches = spark.createDataFrame(
        [("https://a.com/sm.xml",
          "<urlset><url><loc>https://a.com/p1</loc></url></urlset>")],
        "url string, payload string")

    def delay(agent):
        rows = R.crawl_frontier(rules, fetches, agent=agent).collect()
        return rows[0]["crawl_delay_sec"]

    assert delay("slowbot") == 9.0
    assert delay("fastbot") is None  # named group, no delay: no leak
    assert delay("anybot") == 2.0    # falls to *


def test_schedule_fetches(spark):
    """r14: politeness-aware fetch plan — one slot per host (all of a
    host's URLs co-located), deterministic per-host sequence, and
    not_before_sec = seq * delay (default when the host set none)."""
    frontier = spark.createDataFrame(
        [("a.com", "https://a.com/b", "2026-01-01", 4.0),
         ("a.com", "https://a.com/a", None, 4.0),
         ("a.com", "https://a.com/c", None, 4.0),
         ("b.com", "https://b.com/z", None, None)],
        "host string, url string, lastmod string, "
        "crawl_delay_sec double")
    out = R.schedule_fetches(frontier, slots=8,
                             default_delay_sec=1.5).collect()
    by_url = {r["url"]: r for r in out}
    # all of a host's URLs share one slot, in [0, slots)
    slots_a = {by_url[u]["slot"] for u in
               ("https://a.com/a", "https://a.com/b", "https://a.com/c")}
    assert len(slots_a) == 1 and 0 <= slots_a.pop() < 8
    # sequence is URL-ordered within host; offsets honor the delay
    assert [(by_url[f"https://a.com/{p}"]["seq"],
             by_url[f"https://a.com/{p}"]["not_before_sec"])
            for p in "abc"] == [(0, 0.0), (1, 4.0), (2, 8.0)]
    # NULL delay falls to the fetcher default
    assert by_url["https://b.com/z"]["not_before_sec"] == 0.0
    two = spark.createDataFrame(
        [("b.com", "https://b.com/z", None, None),
         ("b.com", "https://b.com/y", None, None)],
        "host string, url string, lastmod string, "
        "crawl_delay_sec double")
    out2 = {r["url"]: r["not_before_sec"]
            for r in R.schedule_fetches(two, slots=8,
                                        default_delay_sec=1.5).collect()}
    assert out2 == {"https://b.com/y": 0.0, "https://b.com/z": 1.5}


def test_schedule_fetches_rejects_bad_slots(spark):
    """r14 review fix: slots <= 0 fails fast instead of producing
    NULL slots via pmod(x, 0)."""
    frontier = spark.createDataFrame(
        [("a.com", "https://a.com/p", None, None)],
        "host string, url string, lastmod string, "
        "crawl_delay_sec double")
    with pytest.raises(ValueError, match="slots"):
        R.schedule_fetches(frontier, 0)
