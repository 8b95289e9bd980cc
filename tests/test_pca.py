"""PCA sufficient statistics (operators/pca.py::second_moments) against
numpy as the ground truth on collected data: the statistics are right
and deterministic under repartitioning, in both summation modes."""

from __future__ import annotations

import numpy as np
import pytest

from youtube_api_data_etl_automation_spark.operators.pca import (
    second_moments,
)

D = 16
N = 300


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    # anisotropic data: a few dominant directions so PCA has structure
    basis = rng.normal(size=(D, D))
    scales = np.concatenate([[8.0, 4.0, 2.0], np.full(D - 3, 0.3)])
    x = (rng.normal(size=(N, D)) * scales) @ basis.astype(np.float64)
    x32 = x.astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x32[i]]) for i in range(N)]
        + [(N, None)],  # NULL vector: skipped everywhere
        "vec_id long, embedding array<float>",
    )
    return df, x32.astype(np.float64)


def test_second_moments_exact_and_repartition_stable(spark, vectors):
    df, x = vectors
    rows = {int(r["pos"]): float(r["s"]) for r in second_moments(df).collect()}
    assert len(rows) == D + D * D
    np.testing.assert_allclose(
        [rows[i] for i in range(D)], x.sum(axis=0), rtol=0, atol=1e-9
    )
    gram = np.array([[rows[D + i * D + j] for j in range(D)] for i in range(D)])
    np.testing.assert_allclose(gram, x.T @ x, rtol=1e-12)
    # decimal sums: bit-identical under a different partitioning
    rows2 = {
        int(r["pos"]): float(r["s"])
        for r in second_moments(df.repartition(7, "vec_id")).collect()
    }
    assert rows == rows2


def test_second_moments_grid6_fixture_mode(spark, vectors):
    """The oracle-fixture mode (summands snapped to the 6-decimal grid,
    decimal(18,6) sums) tracks the full-precision path to within the
    grid's accumulation error and stays repartition-stable."""
    df, x = vectors
    full = {int(r["pos"]): float(r["s"]) for r in second_moments(df).collect()}
    grid = {
        int(r["pos"]): float(r["s"])
        for r in second_moments(df, grid6=True).collect()
    }
    assert set(grid) == set(full)
    for pos, v in full.items():
        assert grid[pos] == pytest.approx(v, abs=N * 5e-7 + 1e-9)
    grid2 = {
        int(r["pos"]): float(r["s"])
        for r in second_moments(df.repartition(5, "vec_id"), grid6=True).collect()
    }
    assert grid == grid2
