"""Unit tests for the curation ops: PII redaction, decontamination,
stratified sampling (plans/curation.py; oracle parity is the driver's job —
these pin the operator semantics on hand-built rows and the scale
properties the oracle can't see)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.functions.pii import (
    email_count,
    ipv4_count,
    phone_count,
    redact_pii,
)
from youtube_api_data_etl_automation_spark.operators.decontam import (
    ngram_contamination,
    word_ngrams,
)

from .conftest import SF_DIR


def _one(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(
        email_count("t").alias("e"),
        ipv4_count("t").alias("i"),
        phone_count("t").alias("p"),
        redact_pii("t").alias("r"),
    ).first()


def test_pii_detect_and_redact_all_kinds(spark):
    r = _one(
        spark,
        "mail a.b+c@site.co.uk now, ping 192.168.0.1 or 10.0.0.255, call 555-123-4567",
    )
    assert (r.e, r.i, r.p) == (1, 2, 1)
    assert r.r == "mail [EMAIL] now, ping [IP] or [IP], call [PHONE]"


def test_pii_clean_text_untouched(spark):
    r = _one(spark, "no contact info here, just words and 42 numbers")
    assert (r.e, r.i, r.p) == (0, 0, 0)
    assert r.r == "no contact info here, just words and 42 numbers"


def test_pii_adjacent_and_repeated(spark):
    r = _one(spark, "x@y.com a@b.org 1.2.3.4 555-000-0000 555-111-1111")
    assert (r.e, r.i, r.p) == (2, 1, 2)
    assert r.r == "[EMAIL] [EMAIL] [IP] [PHONE] [PHONE]"


def test_pii_partial_shapes_not_matched(spark):
    # Three-octet dotted number, short phone, bare @ — none are PII matches.
    r = _one(spark, "v1.2.3 at @handle tel 55-123-4567x")
    assert (r.e, r.i, r.p) == (0, 0, 0)


def test_word_ngrams_positions_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, "")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.g)
        for r in word_ngrams(df, "text", "doc_id", 3).collect()
    }
    assert got == {(1, "a b c"), (1, "b c d")}


def test_ngram_contamination_flags_overlap_only(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # shares "quick brown fox"
            (2, "entirely different words here"),
            (3, "eval quick brown fox tail"),  # shares it too
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox benchmark prompt")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.n_hit_ngrams, r.contaminated)
        for r in ngram_contamination(corpus, bench, n=3).collect()
    }
    assert rows[1][1] and rows[3][1] and not rows[2][1]
    assert rows[1][0] >= 1 and rows[2][0] == 0
    # Every corpus doc gets a verdict row (clean docs included).
    assert set(rows) == {1, 2, 3}


def _decontam_fixture(spark):
    """120 seeded docs over a small vocab (dense n-gram collisions) + a
    7-doc benchmark sharing grams with roughly a third of the corpus."""
    import random

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(40)]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(120)
    ]
    bench = [
        (1000 + i, " ".join(rng.choice(vocab) for _ in range(12)))
        for i in range(7)
    ]
    return (
        spark.createDataFrame(corpus, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
    )


def test_bloom_decontam_equals_exact(spark):
    """The Bloom-prefiltered mode must return BIT-IDENTICAL verdicts to
    exact mode — Bloom has no false negatives and the exact confirm join
    removes every false positive — even with an absurdly undersized
    filter (m=64, k=1 ⇒ near-100% FPR, the worst case: the prefilter
    degenerates to a pass-through and correctness must not depend on its
    selectivity)."""
    corpus, bench = _decontam_fixture(spark)
    exact = sorted(
        tuple(r) for r in ngram_contamination(corpus, bench, n=3).collect()
    )
    assert any(r[2] == 1 for r in exact) and any(r[2] == 0 for r in exact)
    for m_bits, k in ((1 << 16, 5), (64, 1)):
        bloom = sorted(
            tuple(r)
            for r in ngram_contamination(
                corpus, bench, n=3, bloom_bits=m_bits, bloom_k=k
            ).collect()
        )
        assert bloom == exact, (m_bits, k)


def test_bloom_bitset_relation_shape(spark):
    """The bit array is a (word_idx, bits) relation bounded by m/64 rows
    with every word index in range, and a well-sized filter actually
    prunes: non-member probe traffic into the exact join drops."""
    from youtube_api_data_etl_automation_spark.operators.decontam import (
        bloom_bitset,
        bloom_might_contain,
    )

    grams = spark.createDataFrame(
        [(f"g{i}",) for i in range(200)], "g string"
    )
    m, k = 1 << 14, 5
    words = bloom_bitset(grams, m, k).collect()
    assert len(words) <= m // 64
    assert all(0 <= r.word_idx < m // 64 for r in words)
    assert all(r.bits != 0 for r in words)
    bitset = bloom_bitset(grams, m, k)
    members = bloom_might_contain(grams, bitset, m, k).count()
    assert members == 200  # no false negatives, ever
    probes = spark.createDataFrame(
        [(f"other{i}",) for i in range(500)], "g string"
    )
    fps = bloom_might_contain(probes, bitset, m, k).count()
    # 200 grams in 2^14 bits at k=5 → FPR ~ 0.03%; allow slack
    assert fps < 25


def test_bloom_prefilter_plan_is_broadcast_only(spark):
    """Scale pin: the corpus side streams map-side through k broadcast
    hash joins — the Bloom prefilter adds NO nested-loop join and exactly
    k broadcast joins, and the bitset is BUILT ONCE: every probe join
    references the relation with identical aliases, so after execution
    the k-1 later broadcasts are ReusedExchange nodes, not k rebuilds of
    the bit array."""
    corpus, bench = _decontam_fixture(spark)
    exact_plan = (
        ngram_contamination(corpus, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    k = 4
    bloom = ngram_contamination(
        corpus, bench, n=3, bloom_bits=1 << 16, bloom_k=k
    )
    pre = bloom._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in pre
    assert pre.count("BroadcastHashJoin") == exact_plan.count(
        "BroadcastHashJoin"
    ) + k
    bloom.collect()
    post = bloom._jdf.queryExecution().executedPlan().toString()
    assert post.count("ReusedExchange") >= k - 1


def test_stratified_sample_partitioning_invariant(spark):
    from youtube_api_data_etl_automation_spark.plans.curation import (
        sampling_audits,
    )

    import os
    import tempfile

    a = {tuple(r) for r in sampling_audits(spark, SF_DIR).collect()}
    # Same query over a REWRITTEN, repartitioned copy of the table must
    # produce identical strata: the keep decision is content-hash-based,
    # not partition/file-layout-based. (The copy lives in its own sf-style
    # dir so the query actually reads it.)
    alt = tempfile.mkdtemp(prefix="strat_alt_sf_")
    for table, parts in (("documents", 13), ("embeddings", 5)):
        (
            spark.read.parquet(f"{SF_DIR}/{table}.parquet")
            .repartition(parts)
            .write.mode("overwrite")
            .parquet(os.path.join(alt, f"{table}.parquet"))
        )
    b = {tuple(r) for r in sampling_audits(spark, alt).collect()}
    assert a == b
    for section, _stratum, n_docs, n_sampled, *_ in a:
        if section == "stratified":
            assert 0 <= n_sampled <= n_docs


def test_stratified_rates_follow_targets(spark):
    from youtube_api_data_etl_automation_spark.plans.curation import (
        sampling_audits,
    )

    rows = {
        r.stratum: r
        for r in sampling_audits(spark, SF_DIR).collect()
        if r.section == "stratified"
    }
    assert rows["de"].n_sampled == rows["de"].n_docs  # rate 1.0 keeps all
    for lang, r in rows.items():
        # Achieved rate within a loose binomial band of the target (the
        # md5 bucket is uniform; n is small at sf0.001 so the band is wide).
        assert abs(r.achieved_rate - r.target_rate) < 0.25, (lang, r)


def test_pii_planted_entities_property(spark):
    """Property: plant K known PII strings into digit-free filler — counts
    must equal K per kind and redaction must remove every planted string."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "words", "filler", "plain"]
    rows = []
    for i in range(40):
        k_e, k_i, k_p = rng.randint(0, 3), rng.randint(0, 3), rng.randint(0, 3)
        pieces = [rng.choice(words) for _ in range(rng.randint(3, 10))]
        pieces += [f"u{j}x{i}@ex{j}.org" for j in range(k_e)]
        pieces += [f"10.{j}.{i % 200}.7" for j in range(k_i)]
        pieces += [f"555-00{j}-{1000 + i}" for j in range(k_p)]
        rng.shuffle(pieces)
        rows.append((i, k_e, k_i, k_p, " ".join(pieces)))
    df = spark.createDataFrame(
        rows, "i long, k_e int, k_i int, k_p int, t string"
    )
    got = df.select(
        "i", "k_e", "k_i", "k_p",
        email_count("t").alias("e"),
        ipv4_count("t").alias("ip"),
        phone_count("t").alias("p"),
        redact_pii("t").alias("r"),
    ).collect()
    for r in got:
        assert (r.e, r.ip, r.p) == (r.k_e, r.k_i, r.k_p), r
        assert "@" not in r.r
        for tok in r.r.split():
            assert not any(ch.isdigit() for ch in tok.replace("555", "")) or tok in (
                "[EMAIL]", "[IP]", "[PHONE]"
            ), r.r
