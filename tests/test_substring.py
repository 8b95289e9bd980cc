"""Repeated-substring span detection (operators/substring.py): span
semantics on a constructed corpus with known repeats, plus invariances."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.substring import (
    duplicated_spans,
    kgram_occurrences,
    repeated_span_profile,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BOILER = "alpha bravo charlie delta echo"  # 5 tokens, shared verbatim


def test_cross_doc_repeat_becomes_one_maximal_span(spark):
    docs = _docs(
        spark,
        [
            (1, f"intro words here {BOILER} trailing tail"),
            (2, f"{BOILER} something completely different afterwards"),
            (3, "no shared text in this document at all whatsoever"),
        ],
    )
    spans = duplicated_spans(docs, k=5).collect()
    by_doc = {r["doc_id"]: r for r in spans}
    # Doc 1: boilerplate occupies tokens 4..8 (1-based, after 3 intro tokens).
    assert by_doc[1]["span_start"] == 4 and by_doc[1]["span_end"] == 8
    assert by_doc[1]["span_tokens"] == 5
    # Doc 2: tokens 1..5.
    assert by_doc[2]["span_start"] == 1 and by_doc[2]["span_end"] == 5
    # Doc 3: clean — no row.
    assert 3 not in by_doc
    assert len(spans) == 2


def test_overlapping_windows_merge_not_fragment(spark):
    # A 7-token shared run with k=5 yields 3 duplicated window starts
    # (1,2,3) per doc — they must merge into ONE span of 7 tokens.
    run = "one two three four five six seven"
    docs = _docs(spark, [(1, run), (2, run)])
    spans = duplicated_spans(docs, k=5).collect()
    assert len(spans) == 2
    for r in spans:
        assert (r["span_start"], r["span_end"], r["span_tokens"]) == (1, 7, 7)


def test_distant_repeats_stay_separate_spans(spark):
    filler = " ".join(f"u{i}" for i in range(10))  # unique tokens, no repeat
    docs = _docs(
        spark,
        [
            (1, f"{BOILER} {filler} {BOILER}"),
            (2, f"{BOILER} completely other tokens here now"),
        ],
    )
    spans = duplicated_spans(docs, k=5)
    d1 = spans.filter(F.col("doc_id") == 1).orderBy("span_start").collect()
    # Two separate islands in doc 1 (gap of 10 unique tokens > k).
    assert [(r["span_start"], r["span_end"]) for r in d1] == [(1, 5), (16, 20)]


def test_within_doc_repetition_is_flagged(spark):
    # Self-repetition (Gopher pathology): the repeated phrase occurs twice
    # in ONE doc and nowhere else — still duplicated (occurrences >= 2).
    docs = _docs(
        spark,
        [
            (1, f"{BOILER} middle padding words {BOILER}"),
            (2, "entirely unrelated content sits in this row"),
        ],
    )
    prof = {r["doc_id"]: r for r in repeated_span_profile(docs, k=5).collect()}
    assert 1 in prof and 2 not in prof
    assert prof[1]["n_spans"] == 2
    assert prof[1]["dup_tokens"] == 10


def test_profile_sums_spans(spark):
    docs = _docs(
        spark,
        [
            (1, f"{BOILER} aa bb cc dd ee ff gg hh ii jj {BOILER} zz"),
            (2, f"{BOILER} other"),
            (3, f"also {BOILER}"),
        ],
    )
    prof = {r["doc_id"]: r for r in repeated_span_profile(docs, k=5).collect()}
    assert prof[1]["n_spans"] == 2
    assert prof[1]["dup_tokens"] == 10
    assert prof[1]["max_span_tokens"] == 5


def test_gram_positions_are_one_based_and_contiguous(spark):
    docs = _docs(spark, [(1, "a b c d e f")])
    occ = kgram_occurrences(docs, k=5).orderBy("pos").collect()
    assert [r["pos"] for r in occ] == [1, 2]


def test_partitioning_invariance(spark):
    rows = [(i, f"{BOILER} filler{i} unique{i} tail{i}") for i in range(1, 21)]
    docs = _docs(spark, rows)
    one = duplicated_spans(docs.repartition(1), k=5)
    many = duplicated_spans(docs.repartition(13), k=5)
    assert one.exceptAll(many).union(many.exceptAll(one)).count() == 0


# ---- property: spans vs a brute-force Python reference --------------------

from hypothesis import given, settings
from hypothesis import strategies as st

# Tiny vocab + short docs → dense repeats, every edge case (overlap, runs,
# within-doc, cross-doc, empty) gets generated.
_doc_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
    min_size=1,
    max_size=6,
)


def _py_spans(docs_tokens, k):
    from collections import Counter

    grams = Counter()
    for toks in docs_tokens:
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i:i + k])] += 1
    out = []
    for doc_id, toks in enumerate(docs_tokens, start=1):
        pos = [
            i + 1
            for i in range(len(toks) - k + 1)
            if grams[tuple(toks[i:i + k])] >= 2
        ]
        if not pos:
            continue
        start = prev = pos[0]
        for p in pos[1:]:
            if p - prev <= k:
                prev = p
            else:
                out.append((doc_id, start, prev + k - 1, prev + k - start))
                start = prev = p
        out.append((doc_id, start, prev + k - 1, prev + k - start))
    return sorted(out)


@given(_doc_strategy)
@settings(max_examples=10, deadline=None)
def test_spans_match_python_reference(spark, docs_tokens):
    k = 3
    rows = [(i + 1, " ".join(t)) for i, t in enumerate(docs_tokens)]
    docs = _docs(spark, rows)
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(docs, k=k).collect()
    )
    assert got == _py_spans(docs_tokens, k)
