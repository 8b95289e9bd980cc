"""Cluster-balanced diversity selection (operators/diversity.py):
exact-n water-filling under skew/empty clusters, round-robin semantics
against an independent Python reference, determinism under repartition,
coverage-audit properties, and the no-nested-loop plan pin."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from youtube_api_data_etl_automation_spark.operators.diversity import (
    diversity_sample,
)


def _vec(x: float, y: float) -> list[float]:
    return [float(x), float(y)]


# Four well-separated unit-ish centroids on the axes.
CENTROIDS = [
    Row(vec_id=0, embedding=_vec(1, 0)),
    Row(vec_id=1, embedding=_vec(-1, 0)),
    Row(vec_id=2, embedding=_vec(0, 1)),
    Row(vec_id=3, embedding=_vec(0, -1)),
]


def _corpus_rows(sizes: dict[int, int]) -> list[Row]:
    """sizes[c] vectors hugging centroid c; ids interleave across
    clusters so id order never accidentally equals cluster order.
    quality rises with id within each cluster."""
    axes = {0: (1, 0), 1: (-1, 0), 2: (0, 1), 3: (0, -1)}
    rows = []
    i = 0
    for rank in range(max(sizes.values(), default=0)):
        for c, sz in sorted(sizes.items()):
            if rank < sz:
                ax, ay = axes[c]
                # tiny orthogonal jitter keeps vectors distinct but
                # decisively nearest their own centroid
                j = 0.01 * (rank + 1)
                rows.append(
                    Row(
                        vec_id=i,
                        embedding=_vec(ax + j * ay, ay + j * ax),
                        quality=float(rank),
                        cluster=c,
                    )
                )
                i += 1
    return rows


def test_exact_n_and_balance_even_clusters(spark):
    corpus = spark.createDataFrame(_corpus_rows({0: 10, 1: 10, 2: 10, 3: 10}))
    cents = spark.createDataFrame(CENTROIDS)
    out = diversity_sample(corpus, cents, n=8).collect()
    assert len(out) == 8
    by_cluster = {}
    for r in out:
        by_cluster[r["cluster"]] = by_cluster.get(r["cluster"], 0) + 1
    assert by_cluster == {0: 2, 1: 2, 2: 2, 3: 2}


def test_waterfill_backfills_skew_and_empty(spark):
    """One giant cluster, one tiny, one singleton, one EMPTY: the sample
    still comes back exactly n, tiny clusters fully included, the giant
    backfilling the remainder — the case a naive ceil(n/k) cap
    under-fills."""
    corpus = spark.createDataFrame(_corpus_rows({0: 40, 1: 3, 2: 1}))
    cents = spark.createDataFrame(CENTROIDS)
    out = diversity_sample(corpus, cents, n=20).collect()
    assert len(out) == 20
    by_cluster = {}
    for r in out:
        by_cluster[r["cluster"]] = by_cluster.get(r["cluster"], 0) + 1
    # clusters 1, 2 exhausted; giant cluster 0 backfills to n
    assert by_cluster == {0: 16, 1: 3, 2: 1}


def test_round_robin_matches_python_reference(spark):
    """score mode: global draw order must equal the reference round-robin
    (rank-major, cluster-minor, quality-desc within cluster)."""
    sizes = {0: 5, 1: 2, 2: 7, 3: 1}
    rows = _corpus_rows(sizes)
    corpus = spark.createDataFrame(rows)
    cents = spark.createDataFrame(CENTROIDS)
    n = 11
    out = diversity_sample(
        corpus, cents, n=n, score_col="quality", keep_order="draw"
    ).collect()
    got = [(r["draw"], r["vec_id"]) for r in sorted(out, key=lambda r: r["draw"])]

    # reference: per cluster, ids by quality desc (id asc tie-break),
    # then take rank 1 of clusters 0..3, rank 2 of clusters 0..3, ...
    per = {}
    for r in rows:
        per.setdefault(r.cluster, []).append(r)
    for c in per:
        per[c].sort(key=lambda r: (-r.quality, r.vec_id))
    ref = []
    rank = 0
    while len(ref) < n:
        for c in sorted(per):
            if rank < len(per[c]) and len(ref) < n:
                ref.append(per[c][rank].vec_id)
        rank += 1
    assert [v for _, v in got] == ref
    assert [d for d, _ in got] == list(range(1, n + 1))


def test_deterministic_under_repartition(spark):
    corpus = spark.createDataFrame(_corpus_rows({0: 9, 1: 6, 2: 12, 3: 4}))
    cents = spark.createDataFrame(CENTROIDS)
    a = {r["vec_id"] for r in diversity_sample(corpus, cents, n=10).collect()}
    b = {
        r["vec_id"]
        for r in diversity_sample(corpus.repartition(7), cents, n=10).collect()
    }
    assert a == b and len(a) == 10


def test_n_larger_than_corpus_returns_all(spark):
    corpus = spark.createDataFrame(_corpus_rows({0: 2, 1: 1}))
    cents = spark.createDataFrame(CENTROIDS)
    out = diversity_sample(corpus, cents, n=50, keep_order="draw").collect()
    assert len(out) == 3
    assert sorted(r["draw"] for r in out) == [1, 2, 3]
    with pytest.raises(ValueError):
        diversity_sample(corpus, cents, n=0)


def test_no_nested_loop_in_selection_plan(spark):
    """The only join is the sanctioned broadcast centroid assignment —
    candidate selection itself must stay filter + window, never a
    cartesian/BNLJ over the corpus against itself."""
    corpus = spark.createDataFrame(_corpus_rows({0: 8, 1: 8, 2: 8, 3: 8}))
    cents = spark.createDataFrame(CENTROIDS)
    df = diversity_sample(corpus, cents, n=6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # assignment's broadcast corpus×k-centroid scoring is the sanctioned
    # tiny-side BNLJ (see operators/similarity.py); no OTHER join may
    # appear — in particular nothing joining the corpus to itself.
    assert plan.count("Join") <= plan.count("BroadcastNestedLoopJoin") + 1
