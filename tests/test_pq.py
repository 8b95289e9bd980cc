"""Product quantization (operators/pq.py): encode correctness vs a numpy
reference, ADC scoring vs exact reconstruction scoring, and the map-side
plan pins."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.pq import (
    pq_encode,
    pq_topk,
)

M, K, DIM = 4, 8, 64
DSUB = DIM // M


def _np_corpus(n: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, DIM)).astype(np.float32)


def _np_codebooks(seed: int = 11) -> list[list[list[float]]]:
    rng = np.random.default_rng(seed)
    return [
        [[float(x) for x in rng.normal(size=DSUB)] for _ in range(K)]
        for _ in range(M)
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    vecs = _np_corpus(120)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, vecs


def test_pq_encode_matches_numpy_argmin(spark, corpus):
    df, vecs = corpus
    cbs = _np_codebooks()
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cbs).collect()}
    cb = np.array(cbs)  # (M, K, DSUB)
    # float32 storage round-trips through Spark; mirror it
    x = vecs.astype(np.float32).astype(np.float64).reshape(len(vecs), M, DSUB)
    # argmin squared-L2 == argmax(dot - 0.5*cc); random gaussians put every
    # margin far above the 1e-6 snap, so exact equality is deterministic
    d2 = ((x[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    want = d2.argmin(axis=2)
    for i in range(len(vecs)):
        assert got[i] == list(want[i]), f"vec {i}: {got[i]} != {list(want[i])}"


def test_pq_topk_equals_scoring_through_reconstruction(spark, corpus):
    """ADC cosine == cosine(q, x̂) within the round6 snap, and ranking uses
    the shared tie-break — cross-check against a numpy reconstruction."""
    df, vecs = corpus
    cbs = _np_codebooks()
    queries = df.filter(F.col("vec_id") < 3)
    got = pq_topk(pq_encode(df, cbs), queries, cbs, top_k=4).collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}

    cb = np.array(cbs)
    x = vecs.astype(np.float32).astype(np.float64).reshape(len(vecs), M, DSUB)
    d2 = ((x[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    codes = d2.argmin(axis=2)
    recon = np.stack([
        np.concatenate([cb[s, codes[i, s]] for s in range(M)])
        for i in range(len(vecs))
    ])
    q = vecs.astype(np.float32).astype(np.float64)
    for r in got:
        qi, ni = r["query_id"], r["neighbor_id"]
        want = float(q[qi] @ recon[ni] / (np.linalg.norm(q[qi]) * np.linalg.norm(recon[ni])))
        assert r["cosine"] == pytest.approx(want, abs=5e-6)
        assert ni != qi


def test_pq_encode_plan_is_map_only(spark, corpus):
    """The whole point at 100 TB: encoding is one linear scan — no
    exchange, no join, no Python in the plan."""
    df, _ = corpus
    plan = pq_encode(df, _np_codebooks())._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_pq_topk_plan_broadcasts_queries_only(spark, corpus):
    """Corpus codes never hash-shuffle for scoring; the only exchanges are
    the query-side broadcast and the per-query top-k window."""
    df, _ = corpus
    cbs = _np_codebooks()
    plan = (
        pq_topk(pq_encode(df, cbs), df.filter(F.col("vec_id") < 3), cbs, top_k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the rank window only
