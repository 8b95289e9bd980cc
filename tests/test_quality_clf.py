"""Distributed hashed-feature LR training (operators/quality_clf.py):
loss descent, separation on planted signal, numpy differential, scoring
parity with the fixed-weight inference path, and determinism."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.quality_clf import (
    N_BUCKETS,
    learned_logit_t,
    train_quality_clf,
)


def _bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:2], 16)


@pytest.fixture(scope="module")
def labeled(spark):
    """Planted signal: positive docs contain 'good'-family markers,
    negatives 'spam'-family markers, shared filler on both sides."""
    rows = []
    for i in range(60):
        rows.append(
            (i, ["the", "quick", "fox", "good", "fine", f"f{i % 7}"], 1)
        )
    for i in range(60):
        rows.append(
            (100 + i, ["the", "quick", "fox", "spam", "junk", f"f{i % 7}"], 0)
        )
    return spark.createDataFrame(rows, "doc_id long, tok array<string>, y int")


def test_loss_decreases_and_separates(spark, labeled):
    model = train_quality_clf(
        labeled, label_col="y", n_rounds=25, learning_rate=20.0
    )
    hist = model["loss_history"]
    assert hist[-1] < hist[0] * 0.3  # real descent, not noise
    scored = labeled.select(
        "y", learned_logit_t("tok", model["weights"], model["bias"]).alias("z")
    ).collect()
    # keep-probability sigmoid(z) >= 0.5 exactly when z >= 0
    acc = sum(1 for r in scored if (r.z >= 0) == (r.y == 1)) / len(scored)
    assert acc == 1.0  # linearly separable planted signal
    # the signal tokens carry the sign
    w = model["weights"]
    assert w[_bucket("good")] > 0 > w[_bucket("spam")]


def test_matches_numpy_reference(spark, labeled):
    """Same full-batch GD in numpy over the same hashed features must land
    on (near-)identical weights — the distributed gradient is exact, so
    only float-summation order separates the two."""
    rows = labeled.collect()
    X = np.zeros((len(rows), N_BUCKETS))
    y = np.zeros(len(rows))
    for i, r in enumerate(rows):
        for t in r.tok:
            X[i, _bucket(t)] += 1.0
        X[i] /= 1.0 + len(r.tok)
        y[i] = r.y

    lr, rounds = 2.0, 8
    w = np.zeros(N_BUCKETS)
    b = 0.0
    for _ in range(rounds):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        r = p - y
        w -= lr * (X.T @ r) / len(rows)
        b -= lr * r.sum() / len(rows)

    model = train_quality_clf(labeled, label_col="y", n_rounds=rounds)
    assert np.allclose(model["weights"], w, atol=1e-9)
    assert abs(model["bias"] - b) < 1e-9


def test_training_is_deterministic_across_partitionings(spark, labeled):
    m1 = train_quality_clf(labeled.repartition(3), label_col="y", n_rounds=4)
    m2 = train_quality_clf(labeled.repartition(11), label_col="y", n_rounds=4)
    assert m1["weights"] == m2["weights"]
    assert m1["bias"] == m2["bias"]


def test_learned_logit_reduces_to_fixed_form(spark):
    """With the stand-in weight table w[b] = (b % 17)/17 − 0.5 and zero
    bias, learned_logit_t must equal functions/text.py::clf_logit_t — the
    trained model drops into the existing inference expression."""
    from youtube_api_data_etl_automation_spark.functions.text import clf_logit_t

    fixed = [(b % 17) / 17.0 - 0.5 for b in range(N_BUCKETS)]
    df = spark.createDataFrame(
        [(["the", "quick", "brown", "fox"],), (["zzz"],), ([],)],
        "tok array<string>",
    )
    out = df.select(
        F.abs(
            learned_logit_t("tok", fixed, 0.0) - clf_logit_t("tok")
        ).alias("d")
    ).agg(F.max("d").alias("m")).first()
    assert out.m < 1e-12


def test_empty_training_set_raises(spark):
    empty = spark.createDataFrame([], "doc_id long, tok array<string>, y int")
    with pytest.raises(ValueError):
        train_quality_clf(empty, label_col="y", n_rounds=1)


def test_null_token_arrays_train_as_empty(spark, labeled):
    """ADVICE r5: a NULL token array (or null elements) must behave exactly
    like its cleaned form — coalesced/filtered before training — instead
    of silently dropping out of the gradient sums while inflating the
    denominator."""
    base = labeled.collect()
    dirty_rows = [(r.doc_id, r.tok, r.y) for r in base] + [
        (900, None, 0),
        (901, ["spam", None, "junk"], 0),
    ]
    clean_rows = [(r.doc_id, r.tok, r.y) for r in base] + [
        (900, [], 0),
        (901, ["spam", "junk"], 0),
    ]
    schema = "doc_id long, tok array<string>, y int"
    m_dirty = train_quality_clf(
        spark.createDataFrame(dirty_rows, schema), label_col="y", n_rounds=3
    )
    m_clean = train_quality_clf(
        spark.createDataFrame(clean_rows, schema), label_col="y", n_rounds=3
    )
    assert m_dirty["weights"] == m_clean["weights"]
    assert m_dirty["bias"] == m_clean["bias"]
    assert m_dirty["loss_history"] == m_clean["loss_history"]


def test_minibatch_matches_fullbatch_separation(spark, labeled):
    """Deterministic mini-batch rounds (the 100 TB scan-cost option) must
    keep the planted-signal separation, stay bit-deterministic across
    partitionings, and land within a bounded delta of the full-batch
    weights."""
    full = train_quality_clf(
        labeled, label_col="y", n_rounds=25, learning_rate=20.0
    )
    mini = train_quality_clf(
        labeled.repartition(5),
        label_col="y",
        n_rounds=25,
        learning_rate=20.0,
        batch_fraction=0.5,
    )
    mini2 = train_quality_clf(
        labeled.repartition(13),
        label_col="y",
        n_rounds=25,
        learning_rate=20.0,
        batch_fraction=0.5,
    )
    # bit-determinism: the md5 sample is content-stable, not partition-luck
    assert mini["weights"] == mini2["weights"]
    assert mini["bias"] == mini2["bias"]
    # same separation on the planted signal
    scored = labeled.select(
        "y", learned_logit_t("tok", mini["weights"], mini["bias"]).alias("z")
    ).collect()
    acc = sum(1 for r in scored if (r.z >= 0) == (r.y == 1)) / len(scored)
    assert acc == 1.0
    assert mini["weights"][_bucket("good")] > 0 > mini["weights"][_bucket("spam")]
    # bounded drift from the full-batch weights on this convex problem —
    # measured at a tame step size (lr=2, 10 rounds: delta ≈ 0.13); the
    # lr=20 runs above overshoot differently per batch, so the drift bound
    # is pinned on the stable configuration
    full_t = train_quality_clf(labeled, label_col="y", n_rounds=10)
    mini_t = train_quality_clf(
        labeled, label_col="y", n_rounds=10, batch_fraction=0.5
    )
    delta = max(
        abs(a - b) for a, b in zip(mini_t["weights"], full_t["weights"])
    )
    assert delta < 0.4, delta


def test_minibatch_bad_fraction_raises(spark, labeled):
    with pytest.raises(ValueError, match="batch_fraction"):
        train_quality_clf(labeled, label_col="y", batch_fraction=0.0)
    with pytest.raises(ValueError, match="batch_fraction"):
        train_quality_clf(labeled, label_col="y", batch_fraction=1.5)
