"""Random projection (operators.projection): seeded determinism, JL
distance preservation, and bit-parity of the Arrow kernel with the
sequential fold over input dims."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from vector_search_go_spark.operators.projection import project_arrow, projection_matrix


def test_matrix_seeded_and_scaled():
    a = projection_matrix(64, 16, seed=7)
    b = projection_matrix(64, 16, seed=7)
    c = projection_matrix(64, 16, seed=8)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    # JL scaling: E[|y|^2] == |x|^2 -> column norms ~ 1/sqrt(dim_out)
    assert abs(np.mean(a**2) * 16 - 1.0) < 0.2


def _fold_projection(x, mat) -> list[float]:
    """y_j = fold over input dims i = 0..D-1 of acc + x_i * m[i][j], from
    0.0, one Python float add at a time."""
    out = []
    for j in range(mat.shape[1]):
        acc = 0.0
        for i in range(mat.shape[0]):
            acc = acc + float(x[i]) * float(mat[i, j])
        out.append(acc)
    return out


def test_arrow_matches_sequential_fold(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mat = projection_matrix(64, 8, seed=3)
    rows = emb.select(
        "vec_id", "embedding", project_arrow(mat)(F.col("embedding")).alias("y")
    ).collect()
    assert rows
    for r in rows:
        assert list(r["y"]) == _fold_projection(r["embedding"], mat)  # exact, not approx


def test_jl_preserves_pairwise_distances(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(40).collect()
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    mat = projection_matrix(64, 32, seed=5)
    Y = X @ mat
    rng = np.random.default_rng(0)
    ratios = []
    for _ in range(200):
        i, j = rng.integers(0, len(X), 2)
        if i == j:
            continue
        dx = np.linalg.norm(X[i] - X[j])
        dy = np.linalg.norm(Y[i] - Y[j])
        ratios.append(dy / dx)
    # distances preserved in expectation, bounded distortion at 32 dims
    assert 0.9 < float(np.median(ratios)) < 1.1
    assert 0.5 < min(ratios) and max(ratios) < 1.6
