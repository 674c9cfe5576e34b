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


def test_seq_dists_rejects_mismatched_vector_lengths():
    with pytest.raises(ValueError, match="3-d against 2-d"):
        seq_dists("l2", [0.0, 1.0, 2.0], [0.0, 1.0])
    with pytest.raises(ValueError, match="2-d against 3-d"):
        seq_dists("cosine", np.ones((4, 1, 2)), np.ones((1, 5, 3)))


# ---- seq_nearest: the one two-stage nearest scorer ----


def _near_tie_data(rng, D, n_q, n_b, norm=1.0):
    """Queries and rows with every kind of tie the two-stage cut must
    keep: random rows, near-ties at ulp level (each query plus
    permutations of one offset, mathematically equidistant, so the BLAS
    and sequential roundings disagree on their order), exact duplicate
    rows under LARGER ids, a zero query and zero rows (cosine's
    norm <= TOL rule)."""
    Q = rng.standard_normal((n_q, D)) * norm / math.sqrt(D)
    B = Q[rng.integers(0, n_q, n_b)] + rng.standard_normal((n_b, D)) * (
        0.3 * norm / math.sqrt(D)
    )
    delta = rng.standard_normal(D) * 0.05 * norm / math.sqrt(D)
    n_perm = min(8, n_b // (2 * n_q) + 1)
    for qi in range(n_q):
        for p in range(n_perm):
            r = (qi * n_perm + p) % n_b
            B[r] = Q[qi] + rng.permutation(delta)
    Q[-1] = np.ones(D) * norm / math.sqrt(D)  # cosine: permutation ties
    B[-n_perm:] = rng.permutation(np.tile(delta, (n_perm, 1)), axis=1)
    B[0] = 0.0
    Q[0] = 0.0
    dup = rng.integers(0, n_b // 2, n_b // 10)
    B[n_b - len(dup) - n_perm : n_b - n_perm] = B[dup]  # larger ids
    return Q, B


def _mesh_rank(metric, A, B, ids, k):
    """Reference: the full seq_dists mesh, each row ranked by a lexsort
    on (dist, id)."""
    D = seq_dists(metric, A[:, None], B[None])
    return D, [
        [(int(ids[j]), D[i, j]) for j in np.lexsort((ids, D[i]))[:k]]
        for i in range(len(A))
    ]


def _nearest_rank(metric, A, B, ids, k, D, b2=None):
    from vector_search_go_spark.functions.metrics import seq_nearest
    from vector_search_go_spark.operators.argmin import local_topk_flat

    one = A.ndim == 1
    if one:
        j, d = seq_nearest(metric, A, B, k, b2)
        i = np.zeros(len(j), dtype=np.int64)
    else:
        i, j, d = seq_nearest(metric, A, B, k, b2)
    A2 = A[None] if one else A
    # the contract itself: exact distances bit for bit, every row at or
    # under each row's k-th distance present (ties included)
    assert np.array_equal(d, D[i, j])
    for r in range(len(A2)):
        kth = np.sort(D[r])[min(k, len(B)) - 1]
        assert set(np.nonzero(D[r] <= kth)[0]) <= set(j[i == r].tolist())
    keep = local_topk_flat(i, ids[j], d, k)
    got = [[] for _ in range(len(A2))]
    for x in keep:
        got[i[x]].append((int(ids[j[x]]), d[x]))
    return got


@pytest.mark.parametrize("metric", ["sq_l2", "l2", "cosine"])
@pytest.mark.parametrize("k", [1, 10, "all"])
@pytest.mark.parametrize(
    "D, n_q, n_b, norm",
    [
        (16, 3, 20, 1.0),  # 60 pairs: the full-mesh side of the crossover
        (16, 40, 600, 1.0),  # 24,000 pairs: the two-stage side
        (64, 20, 500, 30.0),
        (784, 6, 400, 1e3),  # large D and norms: the margin's D scaling
    ],
)
def test_seq_nearest_equals_full_mesh_ranking(metric, k, D, n_q, n_b, norm):
    from vector_search_go_spark.config import TWO_STAGE_MIN_PAIRS

    rng = np.random.default_rng(D * 1000 + n_b)
    Q, B = _near_tie_data(rng, D, n_q, n_b, norm)
    k = n_b + 3 if k == "all" else k
    ids = np.arange(n_b, dtype=np.int64) * 7 + 3
    D_mesh, want = _mesh_rank(metric, Q, B, ids, k)
    assert _nearest_rank(metric, Q, B, ids, k, D_mesh) == want
    b2 = np.einsum("ij,ij->i", B, B)
    assert _nearest_rank(metric, Q, B, ids, k, D_mesh, b2) == want
    # one query at a time: the 1-D form, on both sides of the crossover
    for rows in (B[: TWO_STAGE_MIN_PAIRS // 2], np.concatenate([B] * 3)):
        ids_r = np.arange(len(rows), dtype=np.int64)
        for q in (Q[0], Q[-1], Q[1]):
            D1, want1 = _mesh_rank(metric, q[None], rows, ids_r, k)
            assert _nearest_rank(metric, q, rows, ids_r, k, D1) == want1


@pytest.mark.parametrize("metric", ["sq_l2", "l2", "cosine"])
def test_nearest_pos_is_first_minimum_with_duplicate_centroids(metric):
    """The centroid argmin: 50 duplicate centroids under larger ids
    (first minimum = smallest id), rows drawn near the centroids."""
    from vector_search_go_spark.operators.argmin import nearest_pos

    rng = np.random.default_rng(11)
    C = rng.standard_normal((350, 64)) * 5.0
    C[300:] = C[rng.choice(300, 50, replace=False)]
    V = C[rng.integers(0, 350, 3000)] + rng.standard_normal((3000, 64)) * 0.5
    V[:40] = C[300:340]  # rows exactly on a duplicated centroid
    V[40] = 0.0
    want = seq_dists(metric, V[:, None], C[None]).argmin(axis=1)
    assert np.array_equal(nearest_pos(metric, V, C), want)
    small = seq_dists(metric, V[:3, None], C[None, :5]).argmin(axis=1)
    assert np.array_equal(nearest_pos(metric, V[:3], C[:5]), small)


def test_seq_nearest_degenerate_sizes():
    from vector_search_go_spark.functions.metrics import seq_nearest

    B = np.ones((5, 3))
    i, j, d = seq_nearest("l2", np.empty((0, 3)), B, 4)
    assert len(i) == len(j) == len(d) == 0
    j, d = seq_nearest("l2", np.ones(3), np.empty((0, 3)), 4)
    assert len(j) == len(d) == 0
    with pytest.raises(ValueError, match="2-d against 3-d"):
        seq_nearest("l2", np.ones((2, 2)), B, 1)


@pytest.mark.parametrize("metric", ["sq_l2", "l2", "cosine"])
def test_seq_nearest_keeps_nan_pairs_like_the_mesh(metric):
    """A NaN row or query scores NaN, as in the full mesh: a NaN query
    keeps all its pairs, a NaN row is never cut away, so the argmin of
    an all-NaN row stays the first position."""
    from vector_search_go_spark.functions.metrics import seq_nearest
    from vector_search_go_spark.operators.argmin import nearest_pos

    rng = np.random.default_rng(13)
    A = rng.standard_normal((30, 8))
    B = rng.standard_normal((200, 8))
    A[4, 2] = np.nan
    B[7, 0] = np.nan
    i, j, d = seq_nearest(metric, A, B, 3)
    D = seq_dists(metric, A[:, None], B[None])
    assert np.array_equal(d, D[i, j], equal_nan=True)
    assert set(j[i == 4].tolist()) == set(range(200))
    assert all(7 in j[i == r] for r in range(30))
    assert nearest_pos(metric, A, B)[4] == D[4].argmin() == 0
    # norms ~1e4 with near-duplicate rows: BLAS cancellation error is
    # above the unscaled margin, so one NaN row must not drop the
    # norm scaling the other rows' cut relies on
    rng = np.random.default_rng(5)
    Q = rng.standard_normal((6, 64)) * 1e4 / 8
    B = Q[rng.integers(0, 6, 400)] + rng.standard_normal((400, 64)) * 1e-5
    B[:6] = Q
    B[399, 3] = np.nan
    ids = np.arange(400, dtype=np.int64)
    for k in (1, 10):
        D = seq_dists(metric, Q[:, None], B[None])
        i, j, d = seq_nearest(metric, Q, B, k)
        assert np.array_equal(d, D[i, j], equal_nan=True)
        for r in range(6):
            kth = np.sort(D[r])[k - 1]  # NaN sorts last
            assert set(np.nonzero(D[r] <= kth)[0]) <= set(j[i == r].tolist())
    want = [int(np.lexsort((ids, D[r]))[0]) for r in range(6)]
    assert nearest_pos(metric, Q, B).tolist() == want
