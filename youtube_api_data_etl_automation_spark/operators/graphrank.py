"""PageRank over a document-similarity/link graph — iterative quality
weighting (the harmonic-centrality-style signal corpus pipelines use to
upweight well-connected sources).

Third member of the engine's iterative family, same Spark discipline as
connected components (operators/dedup.py) and k-means
(operators/clustering.py):

- per-round work is ONE equi-join (ranks ⋈ out-degree edges) plus ONE
  key-aggregate, both shuffling on the node id so the partitioning is
  reused round to round;
- lineage truncated per round with a lazy localCheckpoint — the round's
  single action materializes it (one job/round, bounded plan depth);
- dangling mass (nodes with no out-edges) is redistributed uniformly via
  a one-number aggregate, not a join;
- the driver holds only O(1) scalars (round index, dangling mass).

Fixed iteration count keeps runs engine-portable and deterministic
(ranks are fixed-point integers) — convergence-threshold stopping would
put a float comparison on the control path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixedpoint(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """Bit-deterministic PageRank in fixed-point integer arithmetic.

    Ranks are bigints in units of 1/``scale`` (pico-ranks at the default):
    every per-round operation — contribution split (``rank div deg``),
    damping (``(num * x) div den``), dangling share (``mass div n``) — is
    exact integer arithmetic, so the result is IDENTICAL across engines,
    partitionings, and summation orders (bigint sums commute exactly;
    float/decimal division semantics never enter). Flooring loses < 1 unit
    per node per round of total mass — at scale=1e12 that's noise, and the
    same floor runs on any mirroring engine, which is what makes this
    variant DuckDB-oracle-checkable CTE-for-CTE (plans/graph_queries.py).

    Per round: ONE equi-join (ranks ⋈ out-degree links) + ONE
    key-aggregate reusing the node partitioning, lazy localCheckpoint
    lineage truncation (one job/round), dangling mass as a single driver
    scalar. Differential-tested against a float power iteration in
    tests/test_graphrank.py."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    links = e.join(out_deg, "src").localCheckpoint()

    base = (damping_den - damping_num) * scale // (damping_den * n_nodes)
    ranks = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("r")
    ).localCheckpoint()
    for _ in range(iterations):
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg.src, "left_anti")
            .agg(F.sum("r"))
            .first()[0]
        )
        share = int(dangling or 0) // n_nodes
        contribs = (
            links.join(ranks, links.src == ranks.node)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} + (({damping_num} * (coalesce(m, 0) + {share}))"
                    f" div {damping_den}) AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))
