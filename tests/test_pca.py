"""PCA sufficient statistics (operators/pca.py::second_moments) against
numpy as the ground truth on collected data: every sum equals the exact
total of the 6-decimal-grid summands, and is deterministic under
repartitioning."""

from __future__ import annotations

from decimal import Decimal

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


def _grid_sums(x: np.ndarray) -> list[Decimal]:
    """numpy reference: the d sums then the d*d products, each summand
    snapped to the 6-decimal grid with round6's double arithmetic
    (floor(v * 1e6 + 0.5)), summed exactly as integer micro-units."""
    prods = (x[:, :, None] * x[:, None, :]).reshape(len(x), -1)
    summands = np.concatenate([x, prods], axis=1)
    micro = np.floor(summands * 1e6 + 0.5).astype(np.int64)
    return [Decimal(int(t)).scaleb(-6) for t in micro.sum(axis=0)]


def test_second_moments_exact_and_repartition_stable(spark, vectors):
    df, x = vectors
    got = {int(r["pos"]): r["s"] for r in second_moments(df).collect()}
    want = _grid_sums(x)
    assert len(got) == D + D * D
    assert [got[p] for p in range(len(want))] == want
    # decimal sums: bit-identical under a different partitioning
    again = {
        int(r["pos"]): r["s"]
        for r in second_moments(df.repartition(7, "vec_id")).collect()
    }
    assert again == got


def test_second_moments_grid6_fixture_mode(spark, vectors):
    """The 6-decimal grid (what makes the sums mirrorable by the DuckDB
    oracle) tracks the full-precision sums and Gram matrix to within the
    grid's accumulation error."""
    df, x = vectors
    got = {int(r["pos"]): float(r["s"]) for r in second_moments(df).collect()}
    tol = N * 5e-7 + 1e-9
    np.testing.assert_allclose(
        [got[i] for i in range(D)], x.sum(axis=0), rtol=0, atol=tol
    )
    gram = np.array([[got[D + i * D + j] for j in range(D)] for i in range(D)])
    np.testing.assert_allclose(gram, x.T @ x, rtol=0, atol=tol)
