"""IVF multi-cell probing (operators/similarity.py::probe_cells /
ivf_scored_candidates nprobe): nprobe=1 equals the own-cell assignment;
raising nprobe recovers recall lost at cell borders and never loses it."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.similarity import (
    _rank_topk,
    assign_clusters,
    brute_force_topk,
    ivf_scored_candidates,
    probe_cells,
)
from youtube_api_data_etl_automation_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _fixtures(spark):
    emb = load_table(spark, SF, "embeddings")
    centroids = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17))
    queries = emb.filter(F.col("vec_id") < 5)
    return emb, centroids, queries


def _ivf_topk(emb, queries, centroids, top_k, nprobe):
    scored = ivf_scored_candidates(
        assign_clusters(emb, centroids), queries, centroids, nprobe=nprobe
    )
    return _rank_topk(scored.drop("cell_rank"), top_k)


def _result_pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_probe_cells_counts_and_top1_is_assignment(spark):
    emb, centroids, queries = _fixtures(spark)
    p1 = probe_cells(queries, centroids, nprobe=1)
    p3 = probe_cells(queries, centroids, nprobe=3)
    nq = queries.count()
    assert p1.count() == nq
    assert p3.count() == 3 * nq
    # nprobe=3's per-query cell set contains the nprobe=1 cell.
    top1 = {(r["query_id"], r["cluster_id"]) for r in p1.collect()}
    all3 = {(r["query_id"], r["cluster_id"]) for r in p3.collect()}
    assert top1 <= all3


def test_nprobe1_unchanged_and_recall_monotone(spark):
    emb, centroids, queries = _fixtures(spark)
    truth = _result_pairs(brute_force_topk(emb, queries, top_k=3))

    def recall(nprobe):
        got = _result_pairs(
            _ivf_topk(emb, queries, centroids, top_k=3, nprobe=nprobe)
        )
        return len(got & truth) / len(truth)

    r1, r3, r8 = recall(1), recall(3), recall(8)
    assert r1 <= r3 <= r8
    # Probing EVERY cell (8 centroids) is exhaustive search — exact recall.
    assert r8 == 1.0


def test_recall_report_pins_exact_fixture_values(spark):
    """ivf_recall_report (r6): the tuning artifact is deterministic given
    fixed centroids, so the fixture's recall@3 values are pinned EXACTLY —
    any drift in assignment, probing, or scoring shows up here. nprobe=8
    probes every cell, so its row must be exact recall 1.0."""
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        ivf_recall_report,
    )

    emb, centroids, queries = _fixtures(spark)
    rows = {
        r["nprobe"]: (r["n_hits"], r["n_truth"], r["recall_at_k"])
        for r in ivf_recall_report(
            emb, queries, centroids, top_k=3, nprobes=(1, 2, 4, 8)
        ).collect()
    }
    assert rows == {
        1: (4, 15, 0.266667),
        2: (5, 15, 0.333333),
        4: (10, 15, 0.666667),
        8: (15, 15, 1.0),
    }


def test_each_candidate_scored_once(spark):
    """A neighbor lives in exactly one cell, so multi-cell probing must not
    duplicate (query, neighbor) rows."""
    emb, centroids, queries = _fixtures(spark)
    out = ivf_scored_candidates(
        assign_clusters(emb, centroids), queries, centroids, nprobe=3
    )
    assert (
        out.groupBy("query_id", "neighbor_id").count().filter("count > 1").count()
        == 0
    )
