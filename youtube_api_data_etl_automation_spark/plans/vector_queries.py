"""Similarity-search queries over the ``embeddings`` table (north-star ops).

Oracle note: DuckDB's list_cosine_similarity on FLOAT[] accumulates in
float32 and its internal formula differs from ours, so the oracles cast to
DOUBLE[] and spell out the exact same formula the engine uses
(dot / (||a||·||b||)) — double-for-double identical op sequence, rounded at
the query edge on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round6
from ..operators.similarity import (
    brute_force_topk,
    semantic_neardup,
    sign_lsh_topk,
)
from ..sources.tables import load_table
from .registry import query


def _cos(a: str, b: str) -> str:
    """DuckDB mirror of functions.vectors.cosine_similarity."""
    ad, bd = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (
        f"list_dot_product({ad}, {bd})"
        f" / nullif(sqrt(list_dot_product({ad}, {ad}))"
        f" * sqrt(list_dot_product({bd}, {bd})), 0.0)"
    )


# The single-query brute-force cosine top-k is the batch=1 special case of
# the `exact` section below (same broadcast-queries × corpus plan, same
# exact scoring); only the batched form is registered.


@query(
    "ann_topk_methods",
    oracle=f"""
    WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    exact_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_cos('e.embedding', 'q.qv')} AS cos
      FROM embeddings e JOIN q0 q ON e.vec_id <> q.query_id
    ),
    exact_ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY floor(cos * 1000000.0 + 0.5) / 1000000.0 DESC, neighbor_id) AS INT) AS rank,
             floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM exact_scored
    ),
    bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ),
    lq AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM bucketed WHERE vec_id < 5),
    lsh_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_cos('e.embedding', 'q.qv')} AS cos
      FROM bucketed e JOIN lq q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    ),
    lsh_ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY floor(cos * 1000000.0 + 0.5) / 1000000.0 DESC, neighbor_id) AS INT) AS rank,
             floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM lsh_scored
    ),
    -- PQ/ADC mirror (operators/pq.py): m=4 subspaces of 16 components,
    -- k=8 fixture codebooks from vectors 10-17 (the IVF centroid
    -- convention). Codes = argmax of round6(dot(x_s,c) - 0.5*dot(c,c)),
    -- lowest-j tie; ADC cosine sums round6-snapped per-subspace
    -- contributions in DECIMAL(18,6) (exact, order-free).
    q0d AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 5),
    cb AS (
      SELECT s.i AS subspace, CAST(vec_id - 10 AS INT) AS j,
             (CAST(embedding AS DOUBLE[]))[(s.i*16+1):(s.i*16+16)] AS cv
      FROM embeddings, range(0,4) s(i) WHERE vec_id BETWEEN 10 AND 17
    ),
    docsub AS (
      SELECT vec_id, s.i AS subspace,
             (CAST(embedding AS DOUBLE[]))[(s.i*16+1):(s.i*16+16)] AS xs
      FROM embeddings, range(0,4) s(i)
    ),
    pq_scored AS (
      SELECT d.vec_id, d.subspace, c.j,
             floor((list_dot_product(d.xs, c.cv) - 0.5 * list_dot_product(c.cv, c.cv)) * 1000000.0 + 0.5) / 1000000.0 AS sc
      FROM docsub d JOIN cb c USING (subspace)
    ),
    pq_codes AS (
      SELECT vec_id, subspace, j FROM (
        SELECT vec_id, subspace, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY sc DESC, j) AS rn
        FROM pq_scored) WHERE rn = 1
    ),
    pq_adc AS (
      SELECT q.query_id, t.vec_id AS neighbor_id,
             CAST(SUM(CAST(floor(list_dot_product(q.qv[(t.subspace*16+1):(t.subspace*16+16)], c.cv) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE) AS adc,
             CAST(SUM(CAST(floor(list_dot_product(c.cv, c.cv) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE) AS n2
      FROM pq_codes t
      JOIN cb c ON c.subspace = t.subspace AND c.j = t.j
      JOIN q0d q ON t.vec_id <> q.query_id
      GROUP BY q.query_id, t.vec_id
    ),
    pq_ranked AS (
      SELECT a.query_id, a.neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY floor((a.adc / nullif(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(a.n2), 0.0)) * 1000000.0 + 0.5) / 1000000.0 DESC, a.neighbor_id) AS INT) AS rank,
             floor((a.adc / nullif(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(a.n2), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM pq_adc a JOIN q0d q ON q.query_id = a.query_id
    )
    SELECT 'exact' AS method, query_id, neighbor_id, rank, cosine
    FROM exact_ranked WHERE rank <= 3
    UNION ALL
    SELECT 'sign_lsh' AS method, query_id, neighbor_id, rank, cosine
    FROM lsh_ranked WHERE rank <= 3
    UNION ALL
    SELECT 'pq_adc' AS method, query_id, neighbor_id, rank, cosine
    FROM pq_ranked WHERE rank <= 3
    """,
)
def ann_topk_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + LSH top-k in one tag-unioned relation (r6 consolidation of
    `embedding_knn_batch` + `ann_sign_lsh_topk` — same output schema, same
    query batch, so one driver row verifies both plans side by side).

    `exact`: broadcast query set × corpus, windowed rank — the correctness
    baseline. `sign_lsh`: candidates from an equi-join on the sign-pattern
    bucket (expected 1/2^bits of the corpus per query) — the scale path.
    `pq_adc` (r8): product-quantization asymmetric-distance scoring
    (operators/pq.py) — the corpus is encoded to m=4 codes per vector off
    deterministic fixture codebooks (vectors 10-17's subvectors, the IVF
    centroid convention) and scored through its reconstruction, the
    compression path that makes 1e9+-vector ANN fit in memory.
    Deterministic hyperplanes/codebooks keep all three oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, top_k=3).select(
        F.lit("exact").alias("method"), "*"
    )
    lsh = sign_lsh_topk(emb, queries, top_k=3, bits=4).select(
        F.lit("sign_lsh").alias("method"), "*"
    )
    from ..operators.pq import pq_encode, pq_topk

    # Fixture codebooks: vectors 10-17's subvectors (m=4 × k=8 × 16 floats
    # — an O(k) control-plane collect, like the k-means centroid reads).
    cb_vecs = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17))
        .orderBy("vec_id")
        .collect()
    ]
    codebooks = [[v[s * 16:(s + 1) * 16] for v in cb_vecs] for s in range(4)]
    pq = pq_topk(pq_encode(emb, codebooks), queries, codebooks, top_k=3).select(
        F.lit("pq_adc").alias("method"), "*"
    )
    return exact.unionByName(lsh).unionByName(pq)


# Embedding-cosine near-duplicate pairs (most_similar_pairs) are driver-
# verified through `neardup_pairs_methods` (plans/extended.py — r6
# consolidation with the SimHash pair detector; identical pair relation).


@query(
    "semantic_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (
      SELECT CAST(vec_id - 10 AS INT) AS cluster_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id BETWEEN 10 AND 17
    ),
    a AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT e.vec_id, e.v, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY floor(({_cos('e.v', 'c.cv')}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                                           c.cluster_id) AS rn
        FROM e CROSS JOIN c
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT a1.cluster_id, a1.vec_id AS id_a, a2.vec_id AS id_b,
             floor(({_cos('a1.v', 'a2.v')}) * 1000000.0 + 0.5) / 1000000.0 AS cosine
      FROM a a1 JOIN a a2 ON a1.cluster_id = a2.cluster_id AND a1.vec_id < a2.vec_id
      WHERE floor(({_cos('a1.v', 'a2.v')}) * 1000000.0 + 0.5) / 1000000.0 >= 0.45
    ),
    drops AS (SELECT DISTINCT id_b FROM dup)
    SELECT 'pair' AS section, CAST(cluster_id AS INT) AS cluster_id,
           id_a, id_b, cosine
    FROM dup
    UNION ALL
    SELECT 'summary', CAST(NULL AS INT),
           (SELECT COUNT(*) FROM e WHERE vec_id NOT IN (SELECT id_b FROM drops)),
           (SELECT COUNT(*) FROM drops), CAST(NULL AS DOUBLE)
    """,
)
def semantic_neardup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (operators/similarity.py::
    semantic_neardup) under the driver oracle: deterministic 'trained'
    centroids (vectors 10–17, the ivf_ann_topk convention) → map-side
    cluster assignment → candidate pairs ONLY inside a cluster (equi-join
    on cluster_id, never all-pairs) → drop the higher-id member of every
    pair with cosine ≥ threshold.

    Output is tag-unioned: section='pair' rows carry the ≥threshold pairs
    (cluster_id, id_a, id_b, cosine); the single section='summary' row
    carries (id_a=n_survivors, id_b=n_dropped) — the survivor anti-join
    and the distinct-drop set verified in the same relation, with no
    1-row crossJoin (keeps the plan BNLJ-free; the summary is a tag-union
    + one global aggregate). Threshold 0.45 sits just under the synthetic
    corpus's max within-cluster cosine so the fixture yields a stable,
    non-empty pair set."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    centroids = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") <= 17)).select(
        (F.col("vec_id") - 10).alias("vec_id"), "embedding"
    )
    out = semantic_neardup(
        emb.select("vec_id", "embedding"), centroids, threshold=0.45
    )
    pairs = out["dup_pairs"].select(
        F.lit("pair").alias("section"),
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("cosine").cast("double").alias("cosine"),
    )
    tagged = (
        out["survivors"]
        .select(F.lit(1).alias("surv"), F.lit(0).alias("drp"))
        .unionByName(
            out["dup_pairs"]
            .select("id_b")
            .distinct()
            .select(F.lit(0).alias("surv"), F.lit(1).alias("drp"))
        )
    )
    summary = tagged.agg(
        F.sum("surv").cast("bigint").alias("id_a"),
        F.sum("drp").cast("bigint").alias("id_b"),
    ).select(
        F.lit("summary").alias("section"),
        F.lit(None).cast("int").alias("cluster_id"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("cosine"),
    )
    return pairs.unionByName(summary)


@query(
    "embedding_norm_stats",
    oracle="""
    WITH n AS (
      SELECT label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    qv AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      FROM embeddings
    ),
    qe AS (
      SELECT label,
             CASE WHEN amax > 0 THEN
               list_max(list_transform(v, x ->
                 abs(x - CAST(CAST(round(x * 127.0 / amax) AS TINYINT) AS DOUBLE)
                         * CAST(CAST(amax / 127.0 AS REAL) AS DOUBLE))))
             ELSE 0.0 END AS max_err
      FROM qv
    )
    SELECT 'norm' AS section, label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           floor((CAST(SUM(CAST(nrm AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_v
    FROM n
    GROUP BY label
    UNION ALL
    SELECT 'quant_err', label,
           CAST(COUNT(*) AS BIGINT),
           floor((CAST(SUM(CAST(max_err AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0
    FROM qe
    GROUP BY label
    UNION ALL
    -- PCA sufficient statistics (operators/pca.py::second_moments,
    -- 6-decimal-grid summands) over the label-0 slice: pos < 64 are the
    -- per-dimension sums, pos >= 64 flatten the second-moment matrix at
    -- 64 + i*64 + j; every summand snaps to the exact 6-decimal grid
    -- first so the decimal(18,6) totals are bit-identical cross-engine
    SELECT 'moment2', CAST(pos AS INTEGER), CAST(NULL AS BIGINT),
           CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) / 1000000.0
                         AS DECIMAL(18,6))) AS DOUBLE)
    FROM (
      SELECT i AS pos, CAST(embedding[i+1] AS DOUBLE) AS x
      FROM embeddings, range(0,64) r(i) WHERE label = 0
      UNION ALL
      SELECT 64 + i*64 + j,
             CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE)
      FROM embeddings, range(0,64) r1(i), range(0,64) r2(j) WHERE label = 0
    )
    GROUP BY pos
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats in two tagged sections — JVM-side
    higher-order aggregates over the array column, decimal-exact means.

    `norm`: average L2 norm. `quant_err` (r6): average per-vector MAX
    absolute reconstruction error of symmetric int8 quantization
    (functions/vectors.py::quantize_int8/dequantize_int8 — the 4×
    storage/shuffle-narrowing path), putting the quantizer's exact
    round-trip arithmetic (including its float32 scale) under the driver
    oracle. Max-then-mean keeps every per-vector reduction
    order-independent (max commutes; the mean sums in decimal)."""
    from ..functions.vectors import dequantize_int8, l2_norm, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    norm = (
        emb.select("label", l2_norm("embedding").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round6(
                F.sum(F.col("nrm").cast("decimal(18,12)")).cast("double") / F.count(F.lit(1))
            ).alias("avg_v"),
        )
        .select(F.lit("norm").alias("section"), "label", "n_vecs", "avg_v")
    )
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    err = (
        emb.withColumn("_q", quantize_int8("embedding"))
        .withColumn("_deq", dequantize_int8("_q"))
        .select(
            "label",
            F.array_max(
                F.zip_with(vd, F.col("_deq"), lambda a, b: F.abs(a - b))
            ).alias("max_err"),
        )
    )
    quant = (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round6(
                F.sum(F.col("max_err").cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_v"),
        )
        .select(F.lit("quant_err").alias("section"), "label", "n_vecs", "avg_v")
    )
    # moment2 (r8): the distributed core of PCA — operators/pca.py's
    # exact sufficient-statistics relation (6-decimal-grid summands)
    # over the label-0 slice (the eigendecomposition itself is O(d²)
    # driver numpy and not SQL-expressible; what CAN silently break at
    # scale — the outer-product explode layout, the grouping, the
    # order-independent decimal summation — is exactly what this section
    # value-hashes). label carries the flattened pos.
    from ..operators.pca import second_moments

    moments = second_moments(
        emb.filter(F.col("label") == 0), "embedding"
    ).select(
        F.lit("moment2").alias("section"),
        F.col("pos").cast("int").alias("label"),
        F.lit(None).cast("long").alias("n_vecs"),
        F.col("s").cast("double").alias("avg_v"),
    )
    return norm.unionByName(quant).unionByName(moments)
