"""End-to-end corpus curation (corpus.py::curate_corpus): the capstone
composition — funnel, PII scrub, dedup, decontam, sampling, packing — on a
corpus with planted pathologies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.corpus import curate_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs to the hills "
    "while a calm wind blows over the quiet town in the early morning"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # 40 good English docs (unique suffix keeps them non-duplicates).
    for i in range(40):
        rows.append((i, f"{GOOD} marker{i}"))
    # Exact duplicates of doc 0's text.
    for i in range(100, 103):
        rows.append((i, f"{GOOD} marker0"))
    # Too short.
    rows.append((200, "tiny doc"))
    # Unknown language (no marker vocab hits).
    rows.append((201, "zzz qqq www rrr ttt yyy uuu iii ooo ppp lll kkk"))
    # PII-bearing good doc.
    rows.append((202, f"{GOOD} contact me at someone@example.com today"))
    # Contaminated: shares a long n-gram run with the benchmark.
    rows.append((203, f"{GOOD} the secret benchmark answer is forty two"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench_docs(spark):
    return spark.createDataFrame(
        [(9000, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )


def test_pipeline_stages_and_verdicts(spark, corpus, bench_docs):
    out = curate_corpus(corpus, benchmark=bench_docs, n_shards=4)
    docs = out["documents"]
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}

    assert report["input"] == 47
    # funnel: drops 200 (short) and 201 (unknown lang).
    assert report["funnel"] == 45
    # dedup: 3 exact copies of doc 0 collapse into it.
    assert report["exact_dedup"] == 42
    # decontam: doc 203 shares trigrams with the benchmark.
    assert report["decontam"] == 41
    assert report["packed"] == 41

    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert 203 not in ids and 200 not in ids and 201 not in ids
    assert not ids & {100, 101, 102}  # duplicate copies lost to doc 0
    assert 0 in ids and 202 in ids

    # PII scrubbed in the surviving text.
    clean = docs.filter(F.col("doc_id") == 202).first()["clean_text"]
    assert "someone@example.com" not in clean and "[EMAIL]" in clean

    # Packing columns present and budget respected per (shard, bin).
    assert {"shard", "token_start", "bin_first", "bin_last", "spans_cut"} <= set(
        docs.columns
    )


def test_pipeline_deterministic_and_stratified(spark, corpus, bench_docs):
    a = curate_corpus(corpus, benchmark=bench_docs, n_shards=4)["documents"]
    b = curate_corpus(
        corpus.repartition(7), benchmark=bench_docs, n_shards=4
    )["documents"]
    assert a.exceptAll(b).union(b.exceptAll(a)).count() == 0

    # Stratified: keeping only half the en buckets shrinks survivors but
    # never invents docs.
    full = {r["doc_id"] for r in a.select("doc_id").collect()}
    sampled = curate_corpus(
        corpus, benchmark=bench_docs, lang_rates={"en": 128}, n_shards=4
    )["documents"]
    sub = {r["doc_id"] for r in sampled.select("doc_id").collect()}
    assert sub < full


def test_strip_html_normalizes_before_every_signal(spark):
    """strip_html=True: the funnel, fingerprint, and output all see the
    VISIBLE text — two crawls of the same page with different markup
    chrome dedup to one doc, and script garbage never reaches the token
    counts (without stripping, the script body would push doc 3 over the
    funnel's max_tokens)."""
    noise = "zz " * 2000
    rows = [
        (1, f"<html><p>{GOOD} page</p><script>var x=1;</script></html>"),
        (2, f"<body class='alt'><div>{GOOD} page</div></body>"),
        (3, f"<p>{GOOD} other</p><script>{noise}</script>"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(docs, strip_html=True, n_shards=1)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    kept = {r["doc_id"]: r for r in out["documents"].collect()}
    # 1 and 2 have identical visible text -> min-id survivor
    assert report["exact_dedup"] == 2 and set(kept) == {1, 3}
    assert kept[1]["clean_text"].startswith("the quick")
    assert "<" not in kept[1]["clean_text"]
    # doc 3 survived the funnel: the 2000-token script body was stripped
    assert kept[3]["n_tokens"] < 50
    # without stripping, none of this holds: no dedup and 3 is over budget
    raw = curate_corpus(docs, strip_html=False, n_shards=1)
    raw_report = {r["stage"]: r["n_docs"] for r in raw["report"].collect()}
    assert raw_report["exact_dedup"] == raw_report["funnel"]
    assert 3 not in {r["doc_id"] for r in raw["documents"].collect()}


def test_normalize_unicode_dedups_mojibake_twin(spark):
    """normalize_unicode=True: a document and its cp1252-mojibake twin
    (plus fullwidth/zero-width damage) converge to ONE surface form
    before any signal — shared fingerprint, min-id survivor; entity-
    decoded curly quotes from the markup strip fold too (normalization
    runs after strip_html). Without it, no dedup."""
    dmg = (
        GOOD.replace("the quick", "the​ quick")  # zero-width split
        .replace("fox", "ｆｏｘ")                      # fullwidth
        + " donâ€™t"                                   # mojibake tail
    )
    clean = GOOD + " don't"
    rows = [
        (1, f"<p>{clean}</p>"),
        (2, f"<div>{dmg}</div>"),
        # entity-escaped typographic apostrophe decodes to U+2019, then
        # normalization folds it to ' — a three-way dedup only if the
        # stages compose in the documented order
        (3, f"<p>{GOOD} don&#8217;t</p>".replace("&#8217;", "’")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(docs, strip_html=True, normalize_unicode=True, n_shards=1)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    kept = {r["doc_id"]: r for r in out["documents"].collect()}
    assert report["exact_dedup"] == 1 and set(kept) == {1}
    assert kept[1]["clean_text"].endswith("don't")
    raw = curate_corpus(docs, strip_html=True, normalize_unicode=False, n_shards=1)
    assert len(raw["documents"].collect()) == 3


def test_neardup_stage_collapses_clusters(spark):
    """neardup_threshold: docs sharing most shingles (but NOT exact
    copies) collapse to the min-id survivor via LSH pairs + connected
    components; transitive chains (A~B, B~C) land in ONE cluster. Off by
    default: the same corpus keeps every variant."""
    rows = [
        (1, f"{GOOD} alpha"),
        (2, f"{GOOD} beta"),    # near-dup of 1 (one word differs)
        (3, f"{GOOD} gamma"),   # near-dup of 1 and 2 -> same cluster
        (4, "the lazy dog sleeps under the old tree while the quick wind "
            "turns over the calm hills near the quiet town and the early "
            "fox runs in the morning light"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_corpus(docs, neardup_threshold=0.5, n_shards=1)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    kept = {r["doc_id"] for r in out["documents"].collect()}
    assert report["exact_dedup"] == 4  # no exact copies
    assert report["near_dedup"] == 2 and kept == {1, 4}
    # default path: near-dups all survive
    off = curate_corpus(docs, n_shards=1)
    assert {r["doc_id"] for r in off["documents"].collect()} == {1, 2, 3, 4}


def test_audit_off_returns_no_report(spark, corpus):
    out = curate_corpus(corpus, audit=False)
    assert out["report"] is None
    assert out["documents"].count() > 0


def test_write_training_shards_replayable(spark, corpus, bench_docs, tmp_path):
    """Shard directories are addressable by partition pruning and each
    shard's rows replay in token_start order with contiguous offsets."""
    from youtube_api_data_etl_automation_spark.corpus import write_training_shards

    out = curate_corpus(corpus, benchmark=bench_docs, n_shards=4, audit=False)
    path = str(tmp_path / "shards")
    write_training_shards(out["documents"], path)

    back = spark.read.parquet(path)
    assert back.count() == out["documents"].count()
    for shard in [r["shard"] for r in back.select("shard").distinct().collect()]:
        rows = (
            back.filter(F.col("shard") == shard)
            .orderBy("token_start")
            .select("token_start", "n_tokens")
            .collect()
        )
        offset = 0
        for r in rows:
            assert r["token_start"] == offset
            offset += r["n_tokens"]

    # shard_report certifies the same invariants relationally: contiguous
    # from 0, no gaps, totals consistent, balance ratios centered on 1
    from youtube_api_data_etl_automation_spark.corpus import shard_report

    rep = shard_report(spark, path).collect()
    assert len(rep) == back.select("shard").distinct().count()
    assert all(r["n_gaps"] == 0 and r["first_offset"] == 0 for r in rep)
    assert all(r["last_end"] == r["n_tokens"] for r in rep)
    assert sum(r["n_docs"] for r in rep) == back.count()
    mean = sum(r["n_tokens"] for r in rep) / len(rep)
    for r in rep:
        assert r["tokens_vs_mean"] == pytest.approx(r["n_tokens"] / mean, abs=1e-6)

    # a planted hole (drop one middle doc from shard 0) must surface as
    # exactly one gap in exactly that shard
    holed = str(tmp_path / "holed")
    docs0 = back.filter("shard = 0").orderBy("token_start").collect()
    assert len(docs0) >= 3
    victim = docs0[1]["token_start"]
    back.filter(
        ~((F.col("shard") == 0) & (F.col("token_start") == victim))
    ).write.partitionBy("shard").mode("overwrite").parquet(holed)
    hrep = {r["shard"]: r for r in shard_report(spark, holed).collect()}
    assert hrep[0]["n_gaps"] == 1
    assert all(r["n_gaps"] == 0 for s, r in hrep.items() if s != 0)


def test_bpe_merges_inline_cap_raises_actionably(spark):
    """One merge past the inline cap must fail at the API edge with a
    message routing callers to bpe_encode_corpus — not deep inside
    Catalyst as an analysis/stack error."""
    import pytest

    from youtube_api_data_etl_automation_spark.corpus import (
        _MAX_INLINE_BPE_MERGES,
    )

    docs = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    too_many = [(f"a{i}", f"b{i}") for i in range(_MAX_INLINE_BPE_MERGES + 1)]
    with pytest.raises(ValueError, match="bpe_encode_corpus"):
        curate_corpus(docs, audit=False, bpe_merges=too_many)


def test_bpe_merges_drive_pack_token_counts(spark):
    """With a trained merge list, n_tokens — and therefore the packer's
    budget and token_start offsets — must follow the BPE-encoded redacted
    stream (VERDICT r5 task 4: token-budget fidelity is what a
    training-data user consumes), verified against a Python re-encode of
    each doc's clean tokens."""
    from youtube_api_data_etl_automation_spark.functions.text import tokens
    from youtube_api_data_etl_automation_spark.operators.bpe import SEP

    def py_merge(s, a, b):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + SEP + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    merges = [("the", "quick"), ("over", "the"), ("the" + SEP + "quick", "brown")]
    docs = spark.createDataFrame(
        [(1, GOOD + " alpha tail"), (2, GOOD + " beta tail"),
         (3, GOOD + " " + GOOD + " gamma")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, audit=False, n_shards=1, max_tokens=10_000, bpe_merges=merges
    )
    rows = {r["doc_id"]: r for r in out["documents"].collect()}
    assert set(rows) == {1, 2, 3}

    # Python differential: re-encode each doc's CLEAN token stream
    clean_toks = {
        r["doc_id"]: r["t"]
        for r in spark.createDataFrame(
            [(d, rows[d]["clean_text"]) for d in rows],
            "doc_id long, clean string",
        ).select("doc_id", F.expr(tokens("clean")).alias("t")).collect()
    }
    for d, toks in clean_toks.items():
        expect = list(toks)
        for a, b in merges:
            expect = py_merge(expect, a, b)
        assert rows[d]["n_tokens"] == len(expect), d
        # non-vacuous: the merges actually shrank the stream
        assert len(expect) < len(toks), d
    # offsets replay the BPE stream consecutively within the shard
    ordered = sorted(rows.values(), key=lambda r: r["token_start"])
    for a, b in zip(ordered, ordered[1:]):
        assert b["token_start"] == a["token_start"] + a["n_tokens"]


def test_n_tokens_counts_the_redacted_stream(spark):
    """The packer budgets and the shards replay the REDACTED text, so
    n_tokens must count clean_text's tokens — not the raw text's (ADVICE
    r4: a spaced phone number collapsing to one [PHONE] token would
    otherwise desync token_start offsets from the materialized stream)."""
    from youtube_api_data_etl_automation_spark.functions.text import token_count

    base = (
        "the quick brown fox jumps over the lazy dog and runs to the hills "
        "while a calm wind blows over the quiet town in the early morning"
    )
    # ' call 555 - 123 - 4567' raw ≈ multiple tokens; redacted '[PHONE]' is 1
    docs = spark.createDataFrame(
        [(1, base + " call 555-123-4567 now"), (2, base + " plain tail")],
        "doc_id long, text string",
    )
    out = curate_corpus(docs, audit=False, n_shards=1)
    rows = {r["doc_id"]: r for r in out["documents"].collect()}
    for r in rows.values():
        clean_n = (
            spark.createDataFrame([(r["clean_text"],)], "t string")
            .select(F.expr(token_count("t")).alias("n"))
            .first()
            .n
        )
        assert r["n_tokens"] == clean_n
    assert "[PHONE]" in rows[1]["clean_text"]
    # offsets are consecutive in the single shard: start_{i+1} = start_i + n_i
    ordered = sorted(rows.values(), key=lambda r: r["token_start"])
    for a, b in zip(ordered, ordered[1:]):
        assert b["token_start"] == a["token_start"] + a["n_tokens"]


def test_commit_deduped_batch_end_to_end(spark, tmp_path):
    """The continuous-ingest loop: batch 1 seeds the sink; batch 2 is
    checked against COMMITTED state (exact twin dropped, near-dup
    dropped, within-batch copy dropped, novel doc kept); a replay of
    batch 2 commits nothing. The sink's single relation carries docs +
    their dedup index, so probes re-read signatures, never text."""
    from youtube_api_data_etl_automation_spark.corpus import (
        commit_deduped_batch,
    )
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        read_appended,
    )

    sink = str(tmp_path / "corpus_sink")
    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
            (3, "completely separate committed content here now"),
        ],
        "doc_id long, text string",
    )
    r1 = commit_deduped_batch(b1, sink, threshold=0.25)
    assert r1 == {
        "n_in": 3, "n_within_exact": 0, "n_exact_dup": 0, "n_near_dup": 0,
        "n_committed": 3, "version": 1,
    }

    b2 = spark.createDataFrame(
        [
            (10, "ALPHA beta gamma  delta epsilon zeta eta theta"),  # exact dup of 1 (normalized)
            (11, "one two three four five six seven eight NINE ten"),  # near-dup of 2
            (12, "genuinely new material nothing like the others"),  # novel
            (13, "genuinely new material nothing like the others"),  # within-batch copy of 12
        ],
        "doc_id long, text string",
    )
    r2 = commit_deduped_batch(b2, sink, threshold=0.25)
    assert r2 == {
        "n_in": 4, "n_within_exact": 1, "n_exact_dup": 1, "n_near_dup": 1,
        "n_committed": 1, "version": 2,
    }

    state = read_appended(spark, sink)
    assert {r.doc_id for r in state.select("doc_id").collect()} == {1, 2, 3, 12}
    # the stored index matches a recomputation from the stored text
    from youtube_api_data_etl_automation_spark.operators.dedup import (
        corpus_dedup_index,
    )
    stored = {r.doc_id: (r.fingerprint, r.m0) for r in state.collect()}
    redone = {
        r.doc_id: (r.fingerprint, r.m0)
        for r in corpus_dedup_index(state.select("doc_id", "text")).collect()
    }
    assert stored == redone

    # replay: every doc is now a duplicate of committed state → no commit
    r3 = commit_deduped_batch(b2, sink, threshold=0.25)
    assert r3["n_committed"] == 0 and r3["version"] == 2
    assert r3["n_exact_dup"] >= 2  # 10 and 12's canonical both already in


def test_commit_deduped_batch_loses_to_a_racing_ingest(spark, tmp_path,
                                                      monkeypatch):
    """An ingest that commits between this batch's verdict read and its
    commit wins the version slot: this batch raises ConcurrentWriteError
    instead of landing a doc that is a near-duplicate of the racer's."""
    from youtube_api_data_etl_automation_spark import corpus
    from youtube_api_data_etl_automation_spark.operators import dedup
    from youtube_api_data_etl_automation_spark.operators.versioned import (
        ConcurrentWriteError,
        read_appended,
    )

    sink = str(tmp_path / "corpus_sink")
    corpus.commit_deduped_batch(spark.createDataFrame(
        [(1, "completely separate committed content here now")],
        "doc_id long, text string"), sink, threshold=0.25)
    racer = spark.createDataFrame(
        [(20, "one two three four five six seven eight nine")],
        "doc_id long, text string")
    mine = spark.createDataFrame(
        [(30, "one two three four five six seven eight NINE ten")],
        "doc_id long, text string")

    judge = dedup.dedup_against_index
    raced = []

    def judge_then_race(*args, **kwargs):
        verdicts = judge(*args, **kwargs)
        if not raced:  # the racer's own commit must not race again
            raced.append(True)
            corpus.commit_deduped_batch(racer, sink, threshold=0.25)
        return verdicts

    monkeypatch.setattr(dedup, "dedup_against_index", judge_then_race)
    with pytest.raises(ConcurrentWriteError):
        corpus.commit_deduped_batch(mine, sink, threshold=0.25)
    assert raced
    landed = {r.doc_id for r in read_appended(spark, sink).collect()}
    assert landed == {1, 20}


def test_commit_deduped_batch_rejects_index_column_clash(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "some text", "x")], "doc_id long, text string, fingerprint string"
    )
    from youtube_api_data_etl_automation_spark.corpus import (
        commit_deduped_batch,
    )

    with pytest.raises(ValueError, match="collide with the sink's dedup-index"):
        commit_deduped_batch(df, str(tmp_path / "s"))


def test_curate_corpus_bloom_decontam_identical(spark, corpus, bench_docs):
    """Routing curate_corpus's decontam stage through the Bloom prefilter
    must not change a single surviving document."""
    base = curate_corpus(corpus, benchmark=bench_docs, audit=False)
    bloom = curate_corpus(
        corpus, benchmark=bench_docs, audit=False,
        decontam_bloom_bits=1 << 14, decontam_bloom_k=4,
    )
    ids = lambda out: sorted(
        r.doc_id for r in out["documents"].select("doc_id").collect()
    )
    assert ids(base) == ids(bloom)


def test_dsir_stage_selects_target_like_docs(spark):
    """Stage 5b: with a physics-flavored target, DSIR must keep the
    physics-flavored survivors over the cooking-flavored ones — the
    per-doc weight gap (repeated distinguishing tokens × λ difference)
    dwarfs the Gumbel noise, so the draw is effectively deterministic."""
    phys = "quantum energy photon entropy lattice spectrum boson field"
    cook = "recipe butter flour sugar oven whisk batter glaze"
    rows = [(i, f"{GOOD} {phys} {phys} {phys} v{i}") for i in range(10)]
    rows += [(100 + i, f"{GOOD} {cook} {cook} {cook} v{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(9000 + i, f"{GOOD} {phys} study{i}") for i in range(3)],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, dsir_target=target, dsir_keep=6, max_tokens=2000, n_shards=2
    )
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert report["dsir_select"] == 6
    assert report["packed"] == 6
    ids = {r["doc_id"] for r in out["documents"].select("doc_id").collect()}
    assert len(ids) == 6
    assert all(i < 100 for i in ids), f"cooking docs selected: {ids}"
    # selection metadata must not leak into the packed schema
    assert not {"log_w", "key", "rank"} & set(out["documents"].columns)


def test_robots_and_domain_cap_stages(spark):
    """r13 (VERDICT r12 item 2): REP pre-filter + per-registrable-domain
    cap wired into curate_corpus — robots drops opted-out URLs before
    any signal, the PSL keeps wildcard-listed subdomains distinct cap
    groups where the heuristic over-merges them."""
    from youtube_api_data_etl_automation_spark.operators.robots import (
        parse_robots,
    )

    # under the planted *.example.org wildcard, sK.example.org is itself
    # a public suffix, so the registrable domain of h.sK.example.org is
    # h.sK.example.org — three distinct PSL cap groups the ccSLD
    # heuristic merges into one 'example.org'
    rows = []
    for i in range(12):
        sub = f"h.s{i % 3}.example.org"
        path = "/private/x" if i >= 9 else f"/p/{i}"
        rows.append((i, f"{GOOD} marker{i}", f"https://{sub}{path}"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    robots = parse_robots(spark.createDataFrame(
        [(f"h.s{k}.example.org", "User-agent: *\nDisallow: /private/\n")
         for k in range(3)],
        "host string, payload string"))
    psl = spark.createDataFrame(
        [("org",), ("// comment",), ("*.example.org",)], "rule string")

    out = curate_corpus(
        docs, robots_rules=robots, domain_cap=2, psl=psl,
        min_tokens=1, quality_min=0.0, n_shards=1)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    assert report["input"] == 12
    assert report["robots"] == 9       # one /private doc per subdomain
    # *.example.org keeps each sN.example.org its own group: 3 x cap 2
    assert report["domain_cap"] == 6
    assert report["packed"] == 6

    # heuristic grouping merges every subdomain into example.org
    heur = curate_corpus(
        docs, robots_rules=robots, domain_cap=2,
        min_tokens=1, quality_min=0.0, n_shards=1)
    hr = {r["stage"]: r["n_docs"] for r in heur["report"].collect()}
    assert hr["domain_cap"] == 2

    with pytest.raises(ValueError, match="domain_cap"):
        curate_corpus(docs, psl=psl)
    with pytest.raises(ValueError, match="url_col"):
        curate_corpus(docs.drop("source"), robots_rules=robots)


def test_warc_robots_to_curate_composition(spark):
    """The full crawl-compliance seam: the WARC's own robots.txt capture
    governs which of the WARC's documents survive curation."""
    import sys
    sys.path.insert(0, "tests")
    from test_archives import _http_response, _warc_documents, _warc_record

    from youtube_api_data_etl_automation_spark.operators.robots import (
        warc_robots_rules,
    )

    robots_txt = b"User-agent: *\nDisallow: /private/\n"
    recs = [
        _warc_record(
            "response", _http_response(robots_txt, ctype="text/plain"),
            uri="https://a.com/robots.txt",
            extra=(b"Content-Type: application/http;msgtype=response",)),
        _warc_record(
            "response",
            _http_response(f"<p>{GOOD} public</p>".encode()),
            uri="https://a.com/public/page",
            extra=(b"Content-Type: application/http;msgtype=response",)),
        _warc_record(
            "response",
            _http_response(f"<p>{GOOD} secret</p>".encode()),
            uri="https://a.com/private/page",
            extra=(b"Content-Type: application/http;msgtype=response",)),
    ]
    blobs = spark.createDataFrame(
        [(1, bytearray(b"".join(recs)))], "doc_id long, payload binary")
    docs = _warc_documents(blobs)
    out = curate_corpus(
        docs, robots_rules=warc_robots_rules(blobs),
        min_tokens=1, quality_min=0.0, n_shards=1)
    report = {r["stage"]: r["n_docs"] for r in out["report"].collect()}
    # robots.txt itself ingests as a text/plain document (1 + 2 pages);
    # the REP stage then drops the /private page
    assert report["robots"] == report["input"] - 1
    texts = [r["clean_text"]
             for r in out["documents"].select("clean_text").collect()]
    assert any("public" in t for t in texts)
    assert not any("secret" in t for t in texts)


def test_curate_corpus_ppl_bucket_stage(spark, corpus):
    """The CCNet perplexity stage (late r14): reference-like docs
    land head/middle and survive; a kept-language doc whose wording
    the reference LM has never seen lands tail and drops; the audit
    gains the stage row; default-off leaves the report unchanged."""
    from youtube_api_data_etl_automation_spark.corpus import (
        curate_corpus,
    )

    # reference = the corpus's own good English wording, so the 40
    # good docs score well; an in-language but alien-wording doc
    # (English markers, scrambled content words) scores worst
    ref = spark.createDataFrame(
        [(9100 + i, f"{GOOD} marker{i}") for i in range(40)],
        "doc_id long, text string")
    # passes the generic funnel (long, stopword-rich, English
    # markers) but its content words never occur in the reference,
    # so the LM ranks it worst
    alien = (
        "the quantum marmalade and the purple telescope in the "
        "gleaming attic with a zealous marmot and the cascading "
        "hexagon of the velvet accordion in a shimmering grotto "
        "with the obsidian kaleidoscope and the turquoise "
        "metronome of the whispering labyrinth in the amber "
        "observatory with a crimson pendulum and the emerald "
        "sundial of the twilight conservatory")
    docs = corpus.union(spark.createDataFrame(
        [(300, alien)], "doc_id long, text string"))

    out = curate_corpus(docs, ppl_ref=ref)
    stages = dict(
        (r["stage"], r["n_docs"]) for r in out["report"].collect())
    assert "ppl_bucket" in stages
    assert stages["ppl_bucket"] <= stages["exact_dedup"]
    kept_ids = {r["doc_id"] for r in out["documents"].select("doc_id")
                .distinct().collect()}
    assert 300 not in kept_ids  # the alien-wording doc fell in the tail
    assert 0 in kept_ids        # reference-like docs survive
    # keep the tail too -> the alien doc survives (knob semantics)
    out2 = curate_corpus(
        docs, ppl_ref=ref, ppl_keep=("head", "middle", "tail"))
    kept2 = {r["doc_id"] for r in out2["documents"].select("doc_id")
             .distinct().collect()}
    assert 300 in kept2
    # default-off: no stage row
    out3 = curate_corpus(docs)
    assert "ppl_bucket" not in {
        r["stage"] for r in out3["report"].collect()}
    # bad bucket name fails fast
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ppl_keep"):
        curate_corpus(docs, ppl_ref=ref, ppl_keep=("head", "torso"))
