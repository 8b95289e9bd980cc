"""Lloyd's k-means over an embedding column — the iterative-refinement op
(IVF index training; corpus organization for curriculum/dedup sharding).

Spark shape per iteration: map-side assignment (centroids broadcast — the
corpus NEVER shuffles for assignment) + one shuffle of (cluster, component)
partial sums for the recompute. Driver holds only k×dim centroid floats.
At 100 TB: assignment cost is linear and embarrassingly parallel; the
recompute shuffle carries k·dim·partitions rows — negligible. Lineage is
truncated per round via localCheckpoint-free re-planning from literals
(centroids re-enter as a literal DataFrame each round, so the plan depth
stays constant across iterations).

Sums accumulate in DECIMAL so centroid updates are bit-deterministic
across partitionings/runs (double addition is not associative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round6


def _assign_expr(cents: dict[int, list[float]], vec_col: str,
                 id_dt: str = "int") -> F.Column:
    """``struct(cluster_id int, s double)`` of the nearest centroid —
    the map-side literal form of the former broadcast-join +
    ``groupBy(id).max_by`` assignment (r14): the centroids are already
    driver-side Python floats each round, so they fold into k literal
    score expressions and the corpus is never joined OR re-shuffled for
    assignment. Score arithmetic (round6 cosine) and the
    (cosine, −cluster_id) tie-break are expression-identical — the
    kmeans_embeddings oracle unrolls all three rounds and value-checks
    the result."""
    from .similarity import _nearest_centroid_struct

    cids = sorted(cents)
    best = _nearest_centroid_struct(vec_col, [cents[c] for c in cids])
    cid_arr = F.array(*[F.lit(int(c)) for c in cids]).cast(f"array<{id_dt}>")
    return F.struct(
        F.element_at(cid_arr, (F.lit(1) - best["nj"]).cast("int"))
        .alias("cluster_id"),
        best["s"].alias("s"),
    )


def kmeans_lloyd(spark: SparkSession, corpus: DataFrame, init_centroids: DataFrame,
                 n_iter: int = 3, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 return_centroids: bool = False):
    """Fixed-iteration Lloyd's k-means. ``init_centroids``: (cluster_id, cv).
    Returns the final per-cluster stats (cluster_id, n_vecs,
    avg_cos_to_centroid) — deterministic given the init (decimal-exact
    accumulation). With ``return_centroids=True`` returns
    ``(stats, centroids_df)`` so the TRAINED centroids can feed
    assign_clusters / semantic_neardup (r6: they were computed
    and then dropped, forcing callers onto the unrefined init).

    A cluster that wins zero vectors in an iteration KEEPS its previous
    centroid instead of silently vanishing (k used to shrink with no
    signal); it simply reports n_vecs=0-absent in the stats, like any
    empty group."""
    cent_src = init_centroids.select(
        "cluster_id", F.col("cv").cast("array<double>"))
    id_dt = cent_src.schema["cluster_id"].dataType.simpleString()
    prev = {
        int(r["cluster_id"]): [float(x) for x in r["cv"]]
        for r in cent_src.collect()
    }
    dim = len(next(iter(prev.values()))) if prev else 0
    # r14: assignment is the map-side literal argmax (_assign_expr) — no
    # broadcast join, no per-round corpus exchange. The only shuffle per
    # round is the (cluster, component) partial-sum aggregate, and the
    # projected vector column is persisted across the n_iter+1 passes
    # (iterative reuse — the standard k-means caching trade; released
    # before returning).
    src = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if n_iter > 0:
        src = src.persist()
    try:
        for _ in range(n_iter):
            # assignment and posexplode in SEPARATE selects: a generator
            # in the same projection makes the analyzer re-derive the
            # other expressions and struct-field aliases inside lambdas
            # are lost (FIELD_NOT_FOUND on the argmax struct)
            comp = src.select(
                _assign_expr(prev, "_v", id_dt)["cluster_id"]
                .alias("cluster_id"),
                F.col("_v"),
            ).select("cluster_id", F.posexplode(F.col("_v")))
            means = (
                comp.groupBy("cluster_id", "pos")
                .agg(
                    # Exact decimal SUM (order-independent), cast to double
                    # BEFORE the divide: one double division is
                    # reproducible across engines, while decimal-division
                    # precision/scale rules are engine-specific (Spark and
                    # DuckDB disagree).
                    (
                        F.sum(F.col("col").cast("decimal(28,12)"))
                        .cast("double")
                        / F.count(F.lit(1))
                    )
                    .alias("m")
                )
                .groupBy("cluster_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "m"))).alias("pm")
                )
                .select(
                    "cluster_id",
                    F.transform(F.col("pm"), lambda s: s["m"]).alias("cv"),
                )
            )
            # Centroids return to the driver as plain floats: constant plan
            # depth per round, and the next round's assignment is again a
            # pure literal expression.
            rows = means.collect()
            if not rows:
                break
            new = {
                int(r["cluster_id"]): [float(x) for x in r["cv"]]
                for r in rows
            }
            assert all(len(cv) == dim for cv in new.values())
            # Empty clusters keep their previous centroid (winning no
            # vectors must not silently shrink k).
            prev = {cid: new.get(cid, cv) for cid, cv in prev.items()}
    finally:
        if n_iter > 0:
            src.unpersist()
    # Final stats in ONE map-side pass: the winning score IS the round6
    # cosine to the assigned centroid, so the former re-join + re-score
    # (one broadcast join + one full-corpus re-scan of the scoring
    # expression) is gone.
    final = corpus.select(_assign_expr(prev, vec_col, id_dt).alias("_a"))
    stats = (
        final.select(F.col("_a.cluster_id").alias("cluster_id"),
                     F.col("_a.s").alias("c"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round6(
                F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_cos_to_centroid"),
        )
    )
    if return_centroids:
        cent_df = spark.createDataFrame(
            sorted(prev.items()), f"cluster_id {id_dt}, cv array<double>"
        )
        return stats, cent_df
    return stats


def _occupancy_counts(corpus: DataFrame, cids: list, cvs: list,
                      id_dt: str, vec_col: str) -> DataFrame:
    """Cluster-occupancy histogram ``(cluster_id, n)`` — at most k rows —
    of an embedding relation over an already-collected centroid list:
    every vector's nearest centroid as the map-side literal argmax of
    ``similarity.assign_clusters``, so the ONLY exchange is the
    ≤k-per-partition count partials (the corpus never shuffles its
    vectors) [pinned in tests/test_profile.py]. The centroid list is
    collected once by the caller, so :func:`embedding_drift` runs the
    O(k) control-plane job once for its two occupancy sides."""
    from .similarity import _nearest_centroid_struct

    if not cids:
        return corpus.filter(F.lit(False)).select(
            F.lit(None).cast(id_dt).alias("cluster_id"),
            F.lit(0).cast("long").alias("n"))
    cid_arr = F.array(*[F.lit(c) for c in cids]).cast(f"array<{id_dt}>")
    best = _nearest_centroid_struct(vec_col, cvs)
    cluster = F.element_at(cid_arr, (F.lit(1) - best["nj"]).cast("int"))
    return (
        corpus.select(cluster.alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def embedding_drift(cur: DataFrame, prev: DataFrame, centroids: DataFrame,
                    *, id_col: str = "vec_id", vec_col: str = "embedding",
                    psi_threshold: float = 0.2,
                    epsilon: float = 1e-6) -> DataFrame:
    """SEMANTIC drift between two embedding batches: PSI over their
    cluster-occupancy distributions under a SHARED, fixed centroid set —
    the embedding-space twin of ``profile.histogram_drift``. A numeric
    histogram can't see a corpus pivoting from code to marketing prose
    when every scalar stat stays flat; occupancy over semantic regions
    can. One row: ``(psi, n_buckets, prev_total, cur_total, flagged)``
    (``n_buckets`` = clusters occupied by either side).

    The centroids MUST be the same fixed relation on both sides (train
    once — e.g. ``kmeans_lloyd(return_centroids=True)`` on the baseline
    corpus — then reuse; re-training per batch would move the grid under
    the metric, exactly the mismatch histogram_drift raises on for
    numeric grids). Cost: one broadcast-assign aggregate per side over
    the batch being compared — the baseline side's occupancy can be a
    ≤k-row committed relation reused forever, so steady-state monitoring
    prices at one pass over each NEW batch only, like the streaming PSI
    monitor it composes with."""
    from .profile import histogram_drift
    from .similarity import _collect_centroids

    # ONE O(k) control-plane read of the shared centroid relation for
    # both occupancy sides (a read per side would add a whole
    # driver-synchronized job at build time)
    cids, cvs, id_dt = _collect_centroids(centroids, "cluster_id", "cv")

    def occ_hist(df: DataFrame) -> DataFrame:
        # cluster ids as the "grid": lo/hi = [id, id+1) so the shared-grid
        # guard inside histogram_drift is trivially satisfied when both
        # sides use the same centroid relation
        return _occupancy_counts(df, cids, cvs, id_dt, vec_col).select(
            F.col("cluster_id").cast("int").alias("bucket"),
            F.col("cluster_id").cast("double").alias("bucket_lo"),
            (F.col("cluster_id") + 1).cast("double").alias("bucket_hi"),
            F.col("n").alias("bucket_n"),
        )

    return histogram_drift(
        occ_hist(cur), occ_hist(prev),
        psi_threshold=psi_threshold, epsilon=epsilon,
    )
