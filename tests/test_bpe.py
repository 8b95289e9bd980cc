"""BPE tokenizer-training primitives (operators/bpe.py): pair counting,
single-merge fold semantics, and a multi-round training differential
against a pure-Python reference implementation."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.functions.text import tokens
from youtube_api_data_etl_automation_spark.operators.bpe import (
    SEP,
    apply_merge_t,
    pair_counts,
    train_merges,
)

TEXTS = [
    "the cat sat on the mat",
    "the cat ate the fish",
    "a cat and the cat met the dog",
    "the dog and the dog sat on the mat",
    "dogs and cats and dogs",
    "",
    "single",
]


def _tok_df(spark, texts=TEXTS):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return df.select(F.expr(tokens("text")).alias("tok"))


# ---- Python reference implementation -------------------------------------


def _py_pairs(seqs):
    c = Counter()
    for s in seqs:
        for x, y in zip(s, s[1:]):
            c[(x, y)] += 1
    return c


def _py_merge(s, a, b):
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + SEP + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _py_train(seqs, n):
    merges = []
    for _ in range(n):
        c = _py_pairs(seqs)
        if not c:
            break
        # max count, ties by ascending (a, b) — matches pair_counts order.
        (a, b), n_top = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if n_top < 2:
            break
        merges.append((a, b))
        seqs = [_py_merge(s, a, b) for s in seqs]
    return merges


# ---- tests ----------------------------------------------------------------


def test_pair_counts_match_python(spark):
    got = {
        (r["a"], r["b"]): r["n_pairs"] for r in pair_counts(_tok_df(spark)).collect()
    }
    want = _py_pairs([t.split() for t in TEXTS if t])
    assert got == dict(want)


def test_apply_merge_leftmost_nonoverlapping(spark):
    df = spark.createDataFrame([(["a", "a", "a"],)], "tok array<string>")
    out = df.select(apply_merge_t("tok", "a", "a").alias("m")).first()["m"]
    assert out == [f"a{SEP}a", "a"]


def test_apply_merge_general_cases(spark):
    cases = [
        (["x", "a", "b", "y"], ["x", f"a{SEP}b", "y"]),
        (["a", "b", "a", "b"], [f"a{SEP}b", f"a{SEP}b"]),
        (["b", "a"], ["b", "a"]),
        ([], []),
        (["a"], ["a"]),
        (["a", "b"], [f"a{SEP}b"]),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "tok array<string>")
    got = [r["m"] for r in df.select(apply_merge_t("tok", "a", "b").alias("m")).collect()]
    # createDataFrame preserves row order on a single partition collect
    # only up to partitioning — re-derive by matching inputs instead.
    outs = {tuple(s): w for s, w in cases}
    res = df.select("tok", apply_merge_t("tok", "a", "b").alias("m")).collect()
    for r in res:
        assert r["m"] == outs[tuple(r["tok"])], r
    assert len(got) == len(cases)


def test_training_matches_python_reference(spark):
    merges = train_merges(_tok_df(spark), n_merges=4)
    expected = _py_train([t.split() for t in TEXTS if t], 4)
    assert merges == expected
    assert len(merges) >= 2  # the fixture has repeated pairs to learn


def test_merged_pair_with_separator_stays_unambiguous(spark):
    """Round-2 pairs involving a round-1 merged token must be identified
    exactly (struct pair key, not string concat)."""
    texts = ["x y z", "x y z", "x y q"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    toks = df.select(F.expr(tokens("text")).alias("tok"))
    merges = train_merges(toks, n_merges=2)
    expected = _py_train([t.split() for t in texts], 2)
    assert merges == expected
    # Second merge's left side is the merged 'x␟y' token.
    assert merges[1][0] == f"x{SEP}y"


def test_encode_reproduces_training_final_state(spark):
    """Applying the returned merge list to the ORIGINAL corpus must land
    exactly on the token arrays training finished with — the
    train-then-encode contract every tokenizer deployment relies on."""
    from youtube_api_data_etl_automation_spark.operators.bpe import (
        apply_merge_t,
        bpe_encode_corpus,
        train_merges,
    )

    docs = spark.createDataFrame(
        [(i, ["a", "b", "a", "b", "c", "a", "b"]) for i in range(6)]
        + [(100 + i, ["b", "c", "b", "c", "x"]) for i in range(4)],
        "doc_id long, tok array<string>",
    )
    merges = train_merges(docs, 3)
    assert len(merges) >= 2

    # re-derive the training end state by hand
    manual = docs
    for a, b in merges:
        manual = manual.select(
            "doc_id", apply_merge_t("tok", a, b).alias("tok")
        )
    encoded = bpe_encode_corpus(docs, merges, checkpoint_every=2)
    m = {r.doc_id: r.tok for r in manual.collect()}
    e = {r.doc_id: r.tok for r in encoded.collect()}
    assert m == e


def test_encode_new_text_matches_python_reference(spark):
    """Encoding UNSEEN text with a trained merge list matches a direct
    Python implementation of ordered leftmost-first merge application."""
    from youtube_api_data_etl_automation_spark.operators.bpe import (
        SEP,
        bpe_encode_t,
    )

    def py_apply(toks, a, b):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + SEP + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    merges = [("a", "b"), ("a" + SEP + "b", "c"), ("x", "x")]
    cases = [
        ["a", "b", "c", "x", "x", "x"],
        ["a", "a", "b", "b", "c"],
        ["x"] * 5,
        [],
        ["c", "a", "b", "a", "b", "c"],
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "i long, tok array<string>"
    )
    got = {
        r.i: r.enc
        for r in df.select("i", bpe_encode_t("tok", merges).alias("enc")).collect()
    }
    for i, toks in enumerate(cases):
        want = toks
        for a, b in merges:
            want = py_apply(want, a, b)
        assert got[i] == want, (i, toks, got[i], want)


def test_double_space_replace_trick_equals_merge_fold():
    """Property guard for the bpe_train_encode oracle
    (plans/text_queries.py::_bpe_oracle): one merge round expressed as
    replace(s, ' a  b ', ' a<SEP>b ') on a DOUBLE-space-joined token
    string must equal leftmost-non-overlapping pair merging — including
    overlapping runs ('a a a'), adjacent occurrences ('a b a b'), merged
    tokens containing the separator, and tokens that are substrings of
    neighbors. Pure-Python simulation of the SQL (str.replace is
    left-to-right non-overlapping, like DuckDB's replace), checked against
    the _py_merge reference over randomized sequences."""
    import random

    rng = random.Random(20260814)
    alphabet = ["a", "b", "ab", "ba", "aa", "x", f"a{SEP}b", "xa"]

    def sql_sim(toks, a, b):
        if not toks:
            return []
        s = "  " + "  ".join(toks) + "  "
        s = s.replace(f" {a}  {b} ", f" {a}{SEP}{b} ")
        out = s.strip()
        return out.split("  ") if out else []

    for _ in range(500):
        n = rng.randint(0, 10)
        toks = [rng.choice(alphabet) for _ in range(n)]
        a, b = rng.choice(alphabet), rng.choice(alphabet)
        assert sql_sim(toks, a, b) == _py_merge(toks, a, b), (toks, a, b)

    # Chained merges (the oracle applies rounds sequentially).
    for _ in range(200):
        n = rng.randint(0, 12)
        toks = [rng.choice(alphabet) for _ in range(n)]
        ref = list(toks)
        sim = list(toks)
        for _r in range(3):
            a, b = rng.choice(alphabet), rng.choice(alphabet)
            ref = _py_merge(ref, a, b)
            sim = sql_sim(sim, a, b)
            assert sim == ref, (toks, a, b, sim, ref)
