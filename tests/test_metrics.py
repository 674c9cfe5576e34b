"""Metric value fixtures (reference lsh/lsh_test.go:47-106, FIXTURES.md A3)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import (
    SEQ_METRICS,
    cosine_dist,
    l2_dist,
    l2_norm,
    l2_normalize,
    seq_dists,
)

TOL = 1e-6


def _eval(spark, a, b, expr_fn):
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    return df.select(expr_fn(F.col("a"), F.col("b")).alias("v")).collect()[0]["v"]


def test_l2_unit(spark):
    # d([0,0,0],[0,1,0]) = 1.0 (lsh_test.go:87-95)
    assert abs(_eval(spark, [0.0, 0.0, 0.0], [0.0, 1.0, 0.0], l2_dist) - 1.0) < TOL


def test_l2_345_triangle(spark):
    # d([0,0],[-4,3]) = 5.0 (lsh_test.go:96-106)
    assert abs(_eval(spark, [0.0, 0.0], [-4.0, 3.0], l2_dist) - 5.0) < TOL


def test_cosine_zero_vector(spark):
    # zero vector -> 1.0 (lsh_test.go:47-56)
    assert _eval(spark, [0.0, 0.0], [1.0, 1.0], cosine_dist) == 1.0


def test_cosine_orthogonal(spark):
    assert abs(_eval(spark, [1.0, 0.0], [0.0, 1.0], cosine_dist) - 1.0) < TOL


def test_cosine_opposite(spark):
    assert abs(_eval(spark, [1.0, 0.0], [-1.0, 0.0], cosine_dist) - 2.0) < TOL


def test_cosine_equal_clamps_to_zero(spark):
    # equal vectors -> exactly 0.0 via the <1e-6 clamp (helpers.go:230-233)
    assert _eval(spark, [3.0, 4.0], [3.0, 4.0], cosine_dist) == 0.0


def test_norm_and_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a array<double>")
    row = df.select(
        l2_norm(F.col("a")).alias("n"), l2_normalize(F.col("a")).alias("u")
    ).collect()[0]
    assert abs(row["n"] - 5.0) < TOL
    assert row["u"] == pytest.approx([0.6, 0.8])


def scalar_dist(metric, a, b):
    """Plain-Python reference of metric_dist's fold: one Python float
    at a time, left to right from 0.0 — what seq_dists must equal bit
    for bit on every shape."""
    a, b = [float(x) for x in a], [float(x) for x in b]
    if metric in ("sq_l2", "l2"):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s if metric == "sq_l2" else math.sqrt(s)
    na = nb = dot = 0.0
    for x, y in zip(a, b):
        na += x * x
        nb += y * y
        dot += x * y
    na, nb = math.sqrt(na), math.sqrt(nb)
    if na <= TOL or nb <= TOL:
        return 1.0
    raw = 1.0 - dot / (na * nb)
    return 0.0 if raw < TOL else raw


def _scalar_grid(metric, A, B):
    """scalar_dist over the broadcast of A and B's leading axes."""
    shape = np.broadcast_shapes(A.shape[:-1], B.shape[:-1])
    A = np.broadcast_to(A, shape + A.shape[-1:])
    B = np.broadcast_to(B, shape + B.shape[-1:])
    out = np.empty(shape)
    for idx in np.ndindex(*shape):
        out[idx] = scalar_dist(metric, A[idx], B[idx])
    return out


@pytest.mark.parametrize("metric", SEQ_METRICS)
def test_seq_dists_equals_scalar_fold_on_every_shape(metric):
    rng = np.random.default_rng(5)
    D = 24
    q = rng.standard_normal(D) * 3.0
    V = rng.standard_normal((9, D)) * 10.0 ** rng.integers(-2, 3, (9, 1))
    V[2] = 0.0  # zero row: cosine -> 1.0
    V[5] = q * (1.0 + 1e-12)  # near-duplicate: raw < TOL -> 0.0
    C = rng.standard_normal((4, D))
    cases = [
        (q, V),  # one query vs rows
        (V, np.roll(V, 1, axis=0)),  # aligned pairs
        (V[:, None], C[None]),  # mesh
        (  # the 4-D residual-LUT tensor shape
            rng.standard_normal((3, 2, 1, D)),
            rng.standard_normal((1, 2, 5, D)),
        ),
        (q, V[5]),  # two vectors -> one scalar
    ]
    for A, B in cases:
        got = seq_dists(metric, A, B)
        want = _scalar_grid(metric, A, B)
        assert np.shape(got) == want.shape
        assert np.array_equal(got, want), (metric, A.shape, B.shape)
        # operand order never changes a bit
        assert np.array_equal(seq_dists(metric, B, A), want)
    if metric in ("cosine", "angular"):
        d = seq_dists(metric, q, V)
        assert d[2] == 1.0 and d[5] == 0.0


def test_unknown_metric_raises_on_the_driver():
    from vector_search_go_spark.operators.ann_ivf import probe_cells
    from vector_search_go_spark.operators.argmin import pairwise_dist_udf

    q = np.ones(4)
    with pytest.raises(ValueError, match="unknown metric"):
        seq_dists("cosin", q, q[None])
    with pytest.raises(ValueError, match="unknown metric"):
        pairwise_dist_udf("l1")
    with pytest.raises(ValueError, match="unknown metric"):
        probe_cells(q[None], (np.arange(2), np.ones((2, 4))), "dot", 1)
