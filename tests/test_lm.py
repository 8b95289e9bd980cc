"""Bigram-LM perplexity scoring (operators/lm.py): exact differential
against a pure-Python implementation, OOV backoff levels, and the filter
semantics."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.lm import (
    score_docs,
    train_bigram_lm,
)

REF = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the rug"),
    (3, "a cat and a dog met"),
]
EVAL = [
    (10, "the cat sat on the rug"),     # fluent under the LM
    (11, "rug rug rug zebra zebra"),    # OOV-heavy gibberish
    (12, "one"),                        # no bigram evidence
]
K = 0.5


def _py_lm(ref):
    uni, bi = Counter(), Counter()
    for _i, t in ref:
        ws = t.split()
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    return uni, bi, len(uni)


def _py_score(text, uni, bi, v, k=K):
    ws = text.split()
    lps = []
    for a, b in zip(ws, ws[1:]):
        if a in uni:
            lps.append(math.log((bi.get((a, b), 0) + k) / (uni[a] + k * v)))
        else:
            lps.append(math.log(1.0 / v))
    if not lps:
        return None
    avg = sum(lps) / len(lps)
    return len(lps), avg, math.exp(-avg)


@pytest.fixture(scope="module")
def lm(spark):
    ref = spark.createDataFrame(REF, "doc_id long, text string")
    return train_bigram_lm(ref, k=K)


def test_scores_match_python_reference(spark, lm):
    docs = spark.createDataFrame(EVAL, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["ppl"])
        for r in score_docs(docs, lm).collect()
    }
    uni, bi, v = _py_lm(REF)
    assert v == lm["v"]
    for doc_id, text in EVAL:
        want = _py_score(text, uni, bi, v)
        if want is None:
            assert doc_id not in got  # <2 tokens → no bigrams → no row
            continue
        n, avg, ppl = want
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(avg, rel=1e-9)
        assert got[doc_id][2] == pytest.approx(ppl, rel=1e-9)


def test_fluent_text_scores_below_gibberish(spark, lm):
    docs = spark.createDataFrame(EVAL, "doc_id long, text string")
    ppl = {r["doc_id"]: r["ppl"] for r in score_docs(docs, lm).collect()}
    assert ppl[10] < ppl[11]


def test_training_docs_score_well_under_own_lm(spark, lm):
    ref = spark.createDataFrame(REF, "doc_id long, text string")
    evald = spark.createDataFrame(EVAL, "doc_id long, text string")
    ref_ppl = [r["ppl"] for r in score_docs(ref, lm).collect()]
    oov_ppl = {r["doc_id"]: r["ppl"] for r in score_docs(evald, lm).collect()}[11]
    assert max(ref_ppl) < oov_ppl


def test_pmi_collocations_match_python(spark, lm):
    from youtube_api_data_etl_automation_spark.operators.lm import pmi_collocations

    got = {
        (r["a"], r["b"]): (r["c_ab"], r["pmi"])
        for r in pmi_collocations(lm, min_count=1).collect()
    }
    uni, bi, _v = _py_lm(REF)
    n = sum(uni.values())
    for (a, b), c in bi.items():
        assert got[(a, b)][0] == c
        want = math.log(c * n / (uni[a] * uni[b]))
        assert got[(a, b)][1] == pytest.approx(want, rel=1e-12)
    assert len(got) == len(bi)


def test_pmi_ranks_fixed_collocation_above_frequent_pair(spark):
    from youtube_api_data_etl_automation_spark.operators.lm import (
        pmi_collocations,
        train_bigram_lm,
    )

    # 'new york' always co-occurs; 'the' pairs with everything.
    texts = [
        (i, "new york is where the people and the cars and the noise meet")
        for i in range(6)
    ] + [(10, "the people left"), (11, "the cars stopped")]
    ref = spark.createDataFrame(texts, "doc_id long, text string")
    lm2 = train_bigram_lm(ref)
    top = pmi_collocations(lm2, min_count=2, top_k=5).collect()
    pmis = {(r["a"], r["b"]): r["pmi"] for r in top}
    assert ("new", "york") in pmis
    the_pairs = [v for (a, _b), v in pmis.items() if a == "the"]
    assert all(pmis[("new", "york")] > v for v in the_pairs) or not the_pairs


def test_perplexity_buckets_ccnet_split(spark):
    """CCNet head/middle/tail: per-group exact thirds, NULL scores
    labeled none, head = highest avg_logp (lowest perplexity)."""
    import numpy as np

    from youtube_api_data_etl_automation_spark.operators.lm import (
        perplexity_buckets,
    )

    rows = []
    rng = __import__("random").Random(11)
    for i in range(90):
        lang = "en" if i % 3 else "fr"
        rows.append((i, lang, round(rng.uniform(-9.0, -2.0), 6)))
    rows += [(900, "en", None), (901, "xx", None)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_logp double")
    got = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(
        df, group_col="lang").collect()}
    # python reference: numpy linear-interpolation quantiles per group
    by_lang = {}
    for i, lang, s in rows:
        if s is not None:
            by_lang.setdefault(lang, []).append(s)
    for i, lang, s in rows:
        if s is None:
            assert got[i] == "none", i
            continue
        t1, t2 = np.quantile(np.array(by_lang[lang]), [1 / 3, 2 / 3],
                             method="linear")
        want = "head" if s >= t2 else ("middle" if s >= t1 else "tail")
        assert got[i] == want, (i, lang, s, t1, t2, got[i])
    # thirds are balanced within one per group
    from collections import Counter
    for lang in ("en", "fr"):
        c = Counter(got[i] for i, lg, s in rows
                    if lg == lang and s is not None)
        assert max(c.values()) - min(c.values()) <= 2, (lang, c)
    # ungrouped + approx (the 100 TB sketch path) smoke: same schema,
    # every non-null score bucketed
    ap = perplexity_buckets(df, approx=10_000).collect()
    assert {r["ppl_bucket"] for r in ap} <= {"head", "middle",
                                             "tail", "none"}
    assert all(r["ppl_bucket"] == "none" for r in ap
               if r["avg_logp"] is None)
