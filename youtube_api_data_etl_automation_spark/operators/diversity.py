"""Diversity-aware sample selection over embedding clusters.

Training-data curation repeatedly needs "pick n documents that COVER the
corpus" rather than "pick the n highest-scoring documents" — top-n by any
single score concentrates in the densest mode (one topic, one template).
The public recipe (cluster-then-sample; cf. the SemDeDup/DDC family of
cluster-based selection, Abbas et al. 2023 and successors) is: cluster the
embedding space, then draw round-robin across clusters in within-cluster
preference order, so every region contributes before any region repeats.

Selection = ``assign_clusters`` (operators/similarity.py — broadcast
map-side argmax, the corpus never shuffles for assignment) + ONE window
per cluster (single shuffle on cluster_id) + exact water-filling of the
per-cluster depth from the k-row cluster-size relation.

Scale shape (100 TB): the only corpus-wide exchange is the cluster_id
window shuffle. The draw depth C (smallest depth whose per-cluster
min(size, C) sum reaches n) is computed from the k cluster sizes — an
O(k) control-plane collect, same budget class as the k-means centroid
fetch — so the kept set is an exact filter (rank < C everywhere, plus
the ≤k boundary rows at rank C trimmed by a TakeOrdered over ≤k rows):
no global sort of the corpus, no n-row ordering step.

Determinism: content-stable — preference keys are either a caller score
(desc, id tie-break) or the A-ES md5 uniform (operators/sampling.py), so
re-runs and repartitions select the same ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import stable_uniform
from .similarity import assign_clusters


def diversity_sample(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str | None = None,
    salt: str = "diversity:",
    keep_order: str | None = None,
) -> DataFrame:
    """Select ``n`` rows covering the embedding space: round-robin across
    the ``centroids`` clusters, in within-cluster preference order.

    ``score_col``: within-cluster preference (descending; id tie-break) —
    e.g. a quality score, so the sample is "the best doc of every region,
    then the second-best of every region, …". None → a content-stable
    md5 uniform per id (uniform without-replacement draw per cluster,
    independent of other samplers via ``salt``).

    ``keep_order``: optional output column with the 1-based global draw
    order (cluster-major round-robin position) for audits — an O(n)
    single-partition window over the SELECTED rows only; leave None for
    huge n.

    Returns the selected corpus rows (vector column included), exactly n
    of them unless the corpus itself is smaller. Empty/small clusters
    contribute what they have — the water-filled depth backfills from the
    remaining clusters, so skew and empty cells never under-fill the
    sample."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    assigned = assign_clusters(corpus, centroids, id_col=id_col, vec_col=vec_col)

    pref: Column = (
        F.col(score_col).cast("double") if score_col is not None
        else F.expr(stable_uniform(id_col, salt))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_pref"), F.col(id_col))
    ranked = assigned.withColumn("_pref", pref).withColumn(
        "_rr", F.row_number().over(w)
    )

    # Exact water-filling. The selection "round-robin until n" keeps every
    # row of rank < C plus n - Σ min(size, C-1) boundary rows of rank
    # exactly C (ordered by cluster_id) — where C is the smallest depth
    # with Σ_c min(size_c, C) ≥ n. The k cluster sizes are an O(k)
    # control-plane collect (the repo's sanctioned budget: k-means
    # centroids, clf gradients); everything data-plane stays a filter.
    sizes = [
        r["n"]
        for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    ]
    total = sum(sizes)
    if total <= n:
        return ranked.drop("_pref", "_rr") if keep_order is None else (
            ranked.withColumn(
                keep_order,
                F.row_number()
                .over(Window.orderBy("_rr", "cluster_id", id_col))
                .cast("int"),
            ).drop("_pref", "_rr")
        )
    lo, hi = 1, max(sizes)
    while lo < hi:  # smallest C with sum(min(s, C)) >= n
        mid = (lo + hi) // 2
        if sum(min(s, mid) for s in sizes) >= n:
            hi = mid
        else:
            lo = mid + 1
    depth = lo
    n_below = sum(min(s, depth - 1) for s in sizes)
    n_boundary = n - n_below  # from the ≤k rows with _rr == depth
    picked = ranked.filter(F.col("_rr") < depth).unionAll(
        ranked.filter(F.col("_rr") == depth)
        .orderBy("cluster_id")
        .limit(n_boundary)
    )
    if keep_order is not None:
        # Over exactly n rows by construction — bounded-row
        # single-partition window, same sanctioned shape as profile top-k.
        picked = picked.withColumn(
            keep_order,
            F.row_number()
            .over(Window.orderBy("_rr", "cluster_id", id_col))
            .cast("int"),
        )
    return picked.drop("_pref", "_rr")
