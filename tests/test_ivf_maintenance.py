"""IVF index maintenance loop (operators/similarity.py r9): versioned
commits, cell-size health report off partition metadata, retrain/rewrite
via the versioned-sink CAS.

Fixture: 8 well-separated blobs in 8-dim (blob b hugs axis e_b with tiny
deterministic jitter), 45 vectors each. An index built with only 2
coarse centroids has 180-vector cells (4x the design size of 45) — the
planted drift; rebalancing at target 45 re-derives k=8, and Lloyd from
the 8 lowest-id vectors (one per blob by id layout) recovers the blob
partition exactly, so the band check and the pre/post probe-identity
check are deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.similarity import (
    append_ivf_index_versioned,
    brute_force_topk,
    current_ivf_index_dirs,
    ivf_cell_report,
    read_ivf_centroids,
    rebalance_ivf_index,
    write_ivf_index_versioned,
)
from youtube_api_data_etl_automation_spark.operators.versioned import (
    ConcurrentWriteError,
    gc_batches,
    list_versions,
    read_manifest,
)

DIM = 8
PER_BLOB = 45


def _blob_vec(b: int, j: int) -> list[float]:
    v = [0.0] * DIM
    v[b] = 1.0
    v[(b + 1) % DIM] = 0.01 * (j % 5)
    v[(b + 3) % DIM] = 0.005 * (j % 7)
    return v


def _corpus(spark, blobs=range(8), per_blob=PER_BLOB):
    # id layout: member j of blob b gets id b + 8*j, so ids 0..7 are one
    # vector per blob — the deterministic rebalance init set
    rows = [
        (b + 8 * j, _blob_vec(b, j)) for b in blobs for j in range(per_blob)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _axes(spark, ids):
    rows = [(i, [1.0 if d == b else 0.0 for d in range(DIM)])
            for i, b in enumerate(ids)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _index_topk(spark, dirs, queries):
    """Exact top-3 over the vectors an index version holds."""
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        _read_index,
    )

    index = _read_index(spark, dirs).select("vec_id", "embedding")
    return sorted(map(tuple, brute_force_topk(
        index, queries, top_k=3).collect()))


def test_cell_report_flags_planted_skewed_appends(spark, tmp_path):
    """A balanced 4-cell index passes the band check; appending a batch
    that all lands in one cell pushes that cell past 2x target and ONLY
    it flags. The report plan projects nothing but the partition
    column (metadata-weight at 100 TB)."""
    path = str(tmp_path / "ivf_plain")
    base = _corpus(spark, blobs=range(4), per_blob=40)  # 40 per cell
    cent = _axes(spark, [0, 1, 2, 3])
    write_ivf_index_versioned(base, cent, path)

    pre = ivf_cell_report(spark, current_ivf_index_dirs(spark, path),
                          target_cell_size=40)
    assert pre.filter(F.col("flagged")).count() == 0
    # scan reads only the partition column
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan, plan[:1500]

    # planted drift: 120 more vectors, all in blob 0's cell
    extra = spark.createDataFrame(
        [(10_000 + j, _blob_vec(0, j)) for j in range(120)],
        "vec_id long, embedding array<float>",
    )
    append_ivf_index_versioned(extra, path)
    dirs = current_ivf_index_dirs(spark, path)
    post = {r["cluster_id"]: r for r in ivf_cell_report(
        spark, dirs, target_cell_size=40
    ).collect()}
    assert post[0].flagged and post[0].n_vecs == 160 and post[0].ratio == 4.0
    assert not any(post[c].flagged for c in (1, 2, 3))
    # observed-mean mode (no design size) catches the same skew
    mean_mode = {r["cluster_id"]: r["flagged"] for r in ivf_cell_report(
        spark, dirs
    ).collect()}
    assert mean_mode[0]


def test_rebalance_restores_band_and_preserves_probes(spark, tmp_path):
    base_path = str(tmp_path / "ivf_versioned")
    corpus = _corpus(spark)  # 8 blobs x 45 = 360 vectors
    coarse = _axes(spark, [0, 4])  # 2 cells of 180 — 4x the design size
    v1 = write_ivf_index_versioned(corpus, coarse, base_path)
    assert v1 == 1

    path1 = current_ivf_index_dirs(spark, base_path)
    assert len(path1) == 1
    rep1 = ivf_cell_report(spark, path1, target_cell_size=PER_BLOB)
    assert rep1.filter(F.col("flagged")).count() == 2  # every cell over
    assert read_ivf_centroids(spark, base_path).count() == 2

    queries = corpus.filter(F.col("vec_id") < 3)
    pre_probe = _index_topk(spark, path1, queries)

    out = rebalance_ivf_index(
        spark, base_path, target_cell_size=PER_BLOB, n_iter=3
    )
    assert out == {"version": 2, "k": 8, "n_vectors": 360}

    path2 = current_ivf_index_dirs(spark, base_path)
    assert len(path2) == 1 and path2 != path1
    assert read_ivf_centroids(spark, base_path).count() == 8
    rep2 = ivf_cell_report(spark, path2, target_cell_size=PER_BLOB)
    rows2 = rep2.collect()
    assert len(rows2) == 8
    assert all(not r["flagged"] for r in rows2), rows2
    assert all(r["n_vecs"] == PER_BLOB for r in rows2), rows2

    # content unchanged -> neighbors identical pre/post, and both equal
    # the brute-force answer over the source corpus
    post_probe = _index_topk(spark, path2, queries)
    assert post_probe == pre_probe
    exact = sorted(map(tuple, brute_force_topk(
        corpus, queries, top_k=3
    ).collect()))
    assert post_probe == exact

    # reader safety: the old committed version is retained (keep=2) and
    # still fully readable after the rewrite, through ITS OWN manifest
    assert [(1, True), (2, True)] == [
        (v, ok) for v, ok in list_versions(spark, base_path)
    ]
    assert spark.read.parquet(
        *read_manifest(spark, base_path, 1)
    ).count() == 360


def test_maintenance_errors(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed IVF index"):
        current_ivf_index_dirs(spark, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError, match="no committed IVF index"):
        read_ivf_centroids(spark, str(tmp_path / "nope"))


def test_append_ivf_index_versioned_odelta_and_full_cycle(spark, tmp_path):
    """r9 manifest appends: the write cost is the batch (old dirs are
    listed, never rewritten), the multi-dir snapshot holds every vector,
    the cell report sees the union, rebalance compacts the manifest back
    to one cells dir, and gc_ivf_batches reclaims batch dirs once no
    retained manifest lists them."""
    base = str(tmp_path / "ivf_append")
    corpus = _corpus(spark, blobs=range(4), per_blob=30)
    cent = _axes(spark, [0, 1, 2, 3])
    assert write_ivf_index_versioned(corpus, cent, base) == 1
    assert len(current_ivf_index_dirs(spark, base)) == 1

    batch1 = spark.createDataFrame(
        [(10_000 + j, _blob_vec(0, j)) for j in range(31)],
        "vec_id long, embedding array<float>",
    )
    assert append_ivf_index_versioned(batch1, base) == 2
    dirs = current_ivf_index_dirs(spark, base)
    assert len(dirs) == 2 and any("/batches/" in d for d in dirs)

    batch2 = spark.createDataFrame(
        [(20_000 + j, _blob_vec(1, j)) for j in range(15)],
        "vec_id long, embedding array<float>",
    )
    assert append_ivf_index_versioned(batch2, base) == 3
    dirs = current_ivf_index_dirs(spark, base)
    assert len(dirs) == 3

    # report over the union: cell 0 over-filled by batch1
    rep = {r["cluster_id"]: r for r in ivf_cell_report(
        spark, dirs, target_cell_size=30
    ).collect()}
    assert rep[0].n_vecs == 61 and rep[0].flagged  # 61/30 > 2x: out of band
    assert rep[1].n_vecs == 45 and not rep[1].flagged  # 1.5x: in band
    assert rep[2].n_vecs == 30 and rep[3].n_vecs == 30

    # the multi-dir snapshot holds every vector: same neighbors as the
    # brute force over the source batches
    all_vecs = corpus.unionByName(batch1).unionByName(batch2)
    queries = all_vecs.filter(F.col("vec_id") < 2)
    got = _index_topk(spark, dirs, queries)
    want = sorted(map(tuple, brute_force_topk(
        all_vecs, queries, top_k=3
    ).collect()))
    assert got == want

    # rebalance compacts: one cells dir again, content preserved
    out = rebalance_ivf_index(spark, base, target_cell_size=30, n_iter=2)
    assert out["version"] == 4 and out["n_vectors"] == 166
    dirs4 = current_ivf_index_dirs(spark, base)
    assert len(dirs4) == 1 and "/batches/" in dirs4[0]
    assert spark.read.parquet(dirs4[0]).count() == 166

    # batch dirs are still listed by the retained v3 manifest — gc keeps
    # them; after one more commit retires v3, gc reclaims all three
    assert gc_batches(spark, base, max_age_ms=0) == []
    rebalance_ivf_index(spark, base, target_cell_size=30, n_iter=1)
    deleted = gc_batches(spark, base, max_age_ms=0)
    assert len(deleted) == 3  # v1's full-write dir + the two append dirs
    probe_after = _index_topk(spark, current_ivf_index_dirs(spark, base),
                              queries)
    assert probe_after == want


def test_append_during_rebalance_is_not_lost(spark, tmp_path, monkeypatch):
    """Lost-update regression: an append that commits while the
    rebalance trains its grid owns the slot after the version the
    rebalance read, so the rebalance must raise ConcurrentWriteError
    (its batch dir reclaimed) instead of committing a rewrite that drops
    the appended vectors."""
    import os

    from youtube_api_data_etl_automation_spark.operators import clustering

    base = str(tmp_path / "ivf_race")
    corpus = _corpus(spark, blobs=range(4), per_blob=30)  # 120 vectors
    write_ivf_index_versioned(corpus, _axes(spark, [0, 1, 2, 3]), base)
    batch = spark.createDataFrame(
        [(50_000 + j, _blob_vec(2, j)) for j in range(7)],
        "vec_id long, embedding array<float>",
    )

    real_lloyd = clustering.kmeans_lloyd

    def lloyd_with_racing_append(*args, **kwargs):
        assert append_ivf_index_versioned(batch, base) == 2
        return real_lloyd(*args, **kwargs)

    monkeypatch.setattr(clustering, "kmeans_lloyd", lloyd_with_racing_append)
    with pytest.raises(ConcurrentWriteError):
        rebalance_ivf_index(spark, base, target_cell_size=30, n_iter=1)
    monkeypatch.undo()

    assert [v for v, ok in list_versions(spark, base) if ok] == [1, 2]
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        _read_index,
    )

    assert _read_index(spark, current_ivf_index_dirs(spark, base)).count() == 127
    # only the full write's and the append's batch dirs remain
    assert len(os.listdir(os.path.join(base, "batches"))) == 2
    # and a retried rebalance compacts all 127
    out = rebalance_ivf_index(spark, base, target_cell_size=30, n_iter=1)
    assert out["version"] == 3 and out["n_vectors"] == 127


def test_append_requires_initial_index(spark, tmp_path):
    batch = _corpus(spark, blobs=[0], per_blob=3)
    with pytest.raises(FileNotFoundError, match="write the initial"):
        append_ivf_index_versioned(batch, str(tmp_path / "none"))


def test_gc_ivf_batches_relative_base_path_keeps_live_dirs(spark, tmp_path):
    """r10 regression (ADVICE high): with a relative base path the GC
    compared unqualified manifest strings against qualified listStatus
    paths, matched nothing, and deleted the CURRENT version's live batch
    dirs — leaving the index unreadable. Both sides are now compared as
    fully-qualified URIs."""
    import os

    rel = os.path.relpath(str(tmp_path / "ivf_rel"), os.getcwd())
    corpus = _corpus(spark, blobs=range(2), per_blob=10)
    assert write_ivf_index_versioned(corpus, _axes(spark, [0, 1]), rel) == 1
    # nothing is orphaned: the one batch dir is listed by v1's manifest
    assert gc_batches(spark, rel, max_age_ms=0) == []
    dirs = current_ivf_index_dirs(spark, rel)
    assert spark.read.parquet(*dirs).count() == 20
    # a second commit retires v1 under keep_versions=1; the orphaned v1
    # batch dir IS reclaimed (qualified comparison removes, not just
    # preserves), and the live v2 dirs survive
    assert write_ivf_index_versioned(
        corpus, _axes(spark, [0, 1]), rel, keep_versions=1
    ) == 2
    deleted = gc_batches(spark, rel, max_age_ms=0)
    assert len(deleted) == 1
    assert spark.read.parquet(
        *current_ivf_index_dirs(spark, rel)
    ).count() == 20


def test_cell_report_empty_counts_raises(spark):
    """r10 regression (ADVICE low): an empty index used to surface as a
    TypeError (None * float) from the observed-mean collect."""
    from youtube_api_data_etl_automation_spark.operators.similarity import (
        cell_report_from_counts,
    )

    empty = spark.createDataFrame([], "cluster_id int, n_vecs long")
    with pytest.raises(ValueError, match="empty index"):
        cell_report_from_counts(empty)
