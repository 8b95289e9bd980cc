"""pagerank_fixedpoint: differential vs a pure-Python float power
iteration on a real graph (orders->customer bipartite-ish edges at
sf0.001), mass conservation, and known-structure sanity."""

from __future__ import annotations

from collections import defaultdict  # noqa: F401 (used by mass accumulation)

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.graphrank import (
    pagerank_fixedpoint,
)
from youtube_api_data_etl_automation_spark.sources.tables import load_table

from .conftest import SF_DIR


def py_pagerank(edge_list, iterations=10, damping=0.85):
    edges = sorted(set(edge_list))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out: dict = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        dangling = sum(rank[v] for v in nodes if not out.get(v)) / n
        mass = defaultdict(float)
        for s, ds in out.items():
            share = rank[s] / len(ds)
            for d in ds:
                mass[d] += share
        rank = {v: base + damping * (mass[v] + dangling) for v in nodes}
    return rank


def _edges(spark):
    # customer -> nation membership + order -> customer edges: a real
    # multi-component directed graph with dangling nodes (nations).
    o = load_table(spark, SF_DIR, "orders").limit(500)
    return o.select(
        (F.col("o_orderkey") + 1_000_000).alias("src"),
        F.col("o_custkey").alias("dst"),
    )


SCALE = 10**12


def _ranks(edges, iterations):
    """Fixed-point ranks as floats (units of 1/SCALE)."""
    return {
        r.node: r.rank_fp / SCALE
        for r in pagerank_fixedpoint(
            edges, iterations=iterations, scale=SCALE
        ).collect()
    }


def test_matches_python_power_iteration(spark):
    """The fixed-point ranks track the float power iteration to within
    the flooring budget: each round floors at most ~3 integer divisions
    per node; 1e-9 is orders of magnitude above the accumulated loss."""
    edges = _edges(spark)
    got = _ranks(edges, 8)
    py = py_pagerank(
        [(r.src, r.dst) for r in edges.collect()], iterations=8
    )
    assert set(got) == set(py)
    for v, r in py.items():
        assert abs(got[v] - r) < 1e-9 + 20.0 / SCALE, (v, got[v], r)


def test_mass_conserved_and_sinks_outrank_sources(spark):
    edges = _edges(spark)
    ranks = _ranks(edges, 6)
    # flooring only ever loses mass, a few units per node and edge per
    # round: far below 1e-6 at this scale
    total = sum(ranks.values())
    assert 1.0 - 1e-6 < total <= 1.0
    # Customers (sinks with in-links) must outrank order nodes (pure
    # sources, which only hold the teleport share).
    custs = [r for v, r in ranks.items() if v < 1_000_000]
    orders = [r for v, r in ranks.items() if v >= 1_000_000]
    assert min(custs) > max(orders) * 0.99


def test_fixedpoint_matches_float_within_quantization(spark):
    """Integer arithmetic makes the ranks bit-stable across
    repartitionings, and they track the float iteration at 6 rounds."""
    edges = _edges(spark)
    fp = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(edges, iterations=6, scale=SCALE).collect()
    }
    py = py_pagerank([(r.src, r.dst) for r in edges.collect()], iterations=6)
    assert set(fp) == set(py)
    for v, r in py.items():
        assert abs(fp[v] / SCALE - r) < 1e-9 + 20.0 / SCALE, (v, fp[v], r)
    again = {
        r.node: r.rank_fp
        for r in pagerank_fixedpoint(
            edges.repartition(7), iterations=6, scale=SCALE
        ).collect()
    }
    assert again == fp
