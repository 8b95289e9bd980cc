"""Hypothesis differential tests for the text primitives (SURVEY.md §5
item 4): the engine's Column expressions vs transparent pure-Python
re-statements, over generated unicode text."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.functions.text import (
    doc_fingerprint,
    token_count,
    tokens,
    word_shingles_t,
)


def py_normalize(s: str) -> str:
    # ASCII whitespace ONLY: Java regex \s (the engine) and RE2 \s (the
    # DuckDB oracle) both exclude unicode spaces like NBSP — so must the
    # reference. (Hypothesis found this: '\xa0' is a token char, not a
    # separator, in the engine's semantics.)
    return re.sub(r"[ \t\n\r\f\v]+", " ", s).strip(" ").lower()


def py_tokens(s: str | None) -> list[str]:
    if s is None:
        return []
    n = py_normalize(s)
    return [] if n == "" else n.split(" ")


def py_shingles(s: str | None, k: int = 3) -> list[str]:
    t = py_tokens(s)
    if len(t) < k:
        return []
    return [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]


# Heavy whitespace/punct mixing plus NBSP — the normalization traps.
# Alphabet avoids exotic case-mapping codepoints (İ, ß …) whose lower()
# differs between Python and the JVM; that divergence is out of scope here
# (the engine↔oracle pair agrees — both use simple mappings).
texts = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Nd", "Po"),
            whitelist_characters="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZéñøα\t\n\r \xa0",
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=15, deadline=None)
@given(texts)
def test_tokens_and_shingles_match_python(spark, batch):
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(batch)), "text": batch}), "i long, text string"
    )
    got = {
        r["i"]: (list(r["tok"]), list(r["sh"]), int(r["n"]))
        for r in df.select(
            "i",
            F.expr(tokens("text")).alias("tok"),
            F.expr(word_shingles_t(tokens("text"), 3)).alias("sh"),
            F.expr(token_count("text")).alias("n"),
        ).collect()
    }
    for i, s in enumerate(batch):
        exp_t = py_tokens(s)
        assert got[i][0] == exp_t, (s, got[i][0], exp_t)
        assert got[i][1] == py_shingles(s), s
        assert got[i][2] == len(exp_t), s


@settings(max_examples=10, deadline=None)
@given(texts)
def test_clf_logit_matches_python(spark, batch):
    """Hashed-feature classifier logit vs a transparent Python fold (same
    md5-bucket weights, same left-to-right double summation order)."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.functions.text import (
        clf_logit_t,
        tokens,
    )

    def py_logit(s: str) -> float:
        acc = 0.0
        toks = py_tokens(s)
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:2], 16)
            acc = acc + ((b % 17) / 17.0 - 0.5)  # same grouping as engine+oracle
        return acc / (1.0 + len(toks))

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(batch)), "text": batch}), "i long, text string"
    ).select("i", F.expr(tokens("text")).alias("tok"))
    got = {
        r["i"]: r["z"]
        for r in df.select("i", F.expr(clf_logit_t("tok")).alias("z")).collect()
    }
    for i, s in enumerate(batch):
        assert got[i] == py_logit(s), (s, got[i], py_logit(s))


@settings(max_examples=10, deadline=None)
@given(st.text(alphabet="abc defg.h,i!42\t\n", max_size=60))
def test_fingerprint_is_normalization_invariant(spark, s):
    """Same normalized content ⇒ same fingerprint: leading/trailing/repeated
    whitespace and case differences must not change it."""
    import hashlib

    import pandas as pd

    variants = [s, "  " + s + "\t", s.upper(), re.sub(r" ", "   ", s)]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(variants)), "text": variants}),
        "i long, text string",
    )
    fps = [r["fp"] for r in df.select(F.expr(doc_fingerprint("text")).alias("fp"), "i")
           .orderBy("i").collect()]
    assert len(set(fps)) == 1, (s, fps)
    expected = hashlib.md5(py_normalize(s).encode()).hexdigest()
    assert fps[0] == expected


def test_token_entropy_hand_computed_and_edges(spark):
    import math

    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.functions.text import (
        token_entropy_t,
    )

    df = spark.createDataFrame(
        [
            (1, ["a", "a", "a", "b"]),      # H = -(3/4)ln(3/4) - (1/4)ln(1/4)
            (2, ["a", "a", "b", "b"]),      # H = ln 2 (max for 2 symbols)
            (3, ["x", "x", "x", "x"]),      # H = 0 (degenerate)
            (4, []),                        # empty -> 0 by contract
            (5, ["q"]),                     # single token -> 0
        ],
        "doc_id long, tok array<string>",
    )
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", F.expr(token_entropy_t("tok")).alias("h")
        ).collect()
    }
    assert got[1] == pytest.approx(
        -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)), abs=1e-12
    )
    assert got[2] == pytest.approx(math.log(2), abs=1e-12)
    assert got[3] == 0.0 and got[4] == 0.0 and got[5] == 0.0
    # same dup_token_frac, different entropy — the signal dup_frac misses
    from youtube_api_data_etl_automation_spark.functions.text import (
        dup_token_fraction_t,
    )

    pair = df.filter(F.col("doc_id").isin(1, 2)).select(
        "doc_id",
        F.expr(dup_token_fraction_t("tok")).alias("d"),
        F.expr(token_entropy_t("tok")).alias("h"),
    ).collect()
    d = {r["doc_id"]: (r["d"], r["h"]) for r in pair}
    assert d[1][0] == d[2][0] and d[1][1] < d[2][1]


def test_dup_ngram_fraction_hand_computed(spark):
    from youtube_api_data_etl_automation_spark.functions.text import (
        dup_ngram_fraction_t,
        dup_token_fraction_t,
    )

    df = spark.createDataFrame(
        [
            # "buy now X buy now Y": interleaved boilerplate — every token
            # distinct-ish at unigram level once, but 'buy now' repeats
            (1, ["buy", "now", "x", "buy", "now", "y"]),
            (2, ["a", "b", "c", "d"]),   # no repeated bigrams
            (3, ["z"]),                  # < n tokens -> 0
            (4, []),
        ],
        "doc_id long, tok array<string>",
    )
    got = {
        r["doc_id"]: (r["b"], r["u"])
        for r in df.select(
            "doc_id",
            F.expr(dup_ngram_fraction_t("tok", n=2)).alias("b"),
            F.expr(dup_token_fraction_t("tok")).alias("u"),
        ).collect()
    }
    # doc 1: 5 bigrams, 'buy now' appears twice -> 1 - 4/5 = 0.2; the
    # unigram fraction sees 2/6 repeats — both fire, but on doc 2 ONLY
    # at n-gram level nothing fires
    assert got[1][0] == pytest.approx(0.2)
    assert got[2][0] == 0.0 and got[2][1] == 0.0
    assert got[3][0] == 0.0 and got[4][0] == 0.0
