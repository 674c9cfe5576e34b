"""Distance metrics as native Catalyst column expressions.

Parity targets in the reference:
  - L2 metric:      lsh/helpers.go:133-149 (BLAS axpy + nrm2)
  - Cosine metric:  lsh/helpers.go:194-237 — ``1 - cos(l, r)``; returns 1.0
    when either norm <= 1e-6; clamps results < 1e-6 to 0.0
  - tolerance:      lsh/helpers.go:13-15 (1e-6)
  - conversions:    lsh/helpers.go:240-246

Everything here is ``pyspark.sql.functions`` — JVM-side, codegen'd, no
Python in the hot path (SURVEY.md section 2 O14/O15 mapping). The fold
order is a strict left-to-right ``aggregate`` starting at 0.0 so results
are bit-identical to the DuckDB oracle builders in
``vector_search_go_spark.oracle.vector_sql`` (which use
``list_reduce(list_prepend(0, ...))`` — the same fold).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_search_go_spark.config import TOL, TWO_STAGE_MARGIN, TWO_STAGE_MIN_PAIRS


def as_double(arr: Column) -> Column:
    """Elementwise cast to double (reference ConvertTo64, helpers.go:23-31)."""
    return F.transform(arr, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    # Left-to-right fold with double accumulator; order matters for
    # bit-exact oracle parity, so never replace with a commutative agg.
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(as_double(a), as_double(b), lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(as_double(a), lambda x: x * x)))


def l2_dist(a: Column, b: Column) -> Column:
    """Euclidean distance (reference L2.GetDist, helpers.go:138-145)."""
    diffsq = F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(_fold_sum(diffsq))


def cosine_dist(a: Column, b: Column) -> Column:
    """Cosine distance ``1 - cos`` with the reference's edge semantics
    (Angular.GetDist, helpers.go:219-234): either norm <= 1e-6 -> 1.0;
    result < 1e-6 -> 0.0.
    """
    na, nb = l2_norm(a), l2_norm(b)
    raw = F.lit(1.0) - dot(a, b) / (na * nb)
    clamped = F.when(raw < F.lit(TOL), F.lit(0.0)).otherwise(raw)
    return F.when((na <= F.lit(TOL)) | (nb <= F.lit(TOL)), F.lit(1.0)).otherwise(clamped)


def l2_normalize(a: Column) -> Column:
    """L2-normalize; zero vectors pass through unchanged (matches the
    reference's normalization guard usage in hasher.go:198-205 where only
    nonzero queries reach it — we make the zero case total and safe)."""
    n = l2_norm(a)
    return F.when(n <= F.lit(TOL), as_double(a)).otherwise(
        F.transform(as_double(a), lambda x: x / n)
    )


def angular_to_cosine_dist(angular: Column) -> Column:
    """Reference AngularToCosineDist: (a^2)/2 (helpers.go:240-242)."""
    return angular * angular / F.lit(2.0)


def cosine_to_angular_dist(cosine: Column) -> Column:
    """Reference CosineDistToAngular: sqrt(2c) (helpers.go:244-246)."""
    return F.sqrt(F.lit(2.0) * cosine)


def metric_dist(metric: str, a: Column, b: Column) -> Column:
    """Metric strategy dispatch (reference Metric interface, lsh/lsh.go:48-51)."""
    if metric == "l2":
        return l2_dist(a, b)
    if metric in ("cosine", "angular"):
        return cosine_dist(a, b)
    raise ValueError(f"unknown metric {metric!r} (want 'l2' or 'cosine')")


SEQ_METRICS = ("sq_l2", "l2", "cosine", "angular")


def check_metric(metric: str) -> None:
    """Raise ValueError unless ``metric`` is one seq_dists scores —
    called where a numpy kernel is BUILT (pandas_udf factories, scan
    kernels), so a typo fails on the driver like metric_dist does."""
    if metric not in SEQ_METRICS:
        raise ValueError(f"unknown metric {metric!r} (want one of {SEQ_METRICS})")


def _per_dim(M: np.ndarray):
    """The slices of M's last axis in order: Python floats for a vector
    (scalar-array arithmetic is cheapest with them), strided views over
    the leading axes otherwise."""
    if M.ndim == 1:
        return M.tolist()
    return M.transpose(M.ndim - 1, *range(M.ndim - 1))


def _check_dims(A: np.ndarray, B: np.ndarray) -> None:
    if A.shape[-1] != B.shape[-1]:
        raise ValueError(
            f"vector length mismatch: {A.shape[-1]}-d against {B.shape[-1]}-d"
        )


def seq_dists(metric: str, A, B) -> np.ndarray:
    """numpy twin of metric_dist, bit for bit: distances between the
    vectors on the LAST axis of ``A`` and ``B``, broadcast over the
    leading axes — one query vs rows ``(q, V)``, aligned pairs
    ``(A, B)``, a mesh ``(V[:, None], C[None])`` or any higher-rank
    tensor. Every sum is a sequential per-dimension add starting at
    0.0, the IEEE order of _fold_sum, so each float equals the
    Catalyst fold's and the DuckDB oracle's. ``sq_l2`` skips the sqrt
    (centroid argmins and ADC tables compare squared distances);
    ``cosine``/``angular`` follow cosine_dist's edge rules (norm <=
    TOL -> 1.0, raw < TOL -> 0.0). Operand order never changes a bit
    ((a-b)^2 == (b-a)^2, a*b == b*a)."""
    check_metric(metric)
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    _check_dims(A, B)
    shape = np.broadcast_shapes(A.shape[:-1], B.shape[:-1])
    if metric in ("sq_l2", "l2"):
        s = np.zeros(shape)[()]
        for a, b in zip(_per_dim(A), _per_dim(B)):
            diff = a - b
            s += diff * diff
        return s if metric == "sq_l2" else np.sqrt(s)
    # a 1-D operand accumulates its norm into a scalar, not a 0-d array
    na, nb = np.zeros(A.shape[:-1])[()], np.zeros(B.shape[:-1])[()]
    dot = np.zeros(shape)[()]
    for a, b in zip(_per_dim(A), _per_dim(B)):
        na += a * a
        nb += b * b
        dot += a * b
    na, nb = np.sqrt(na), np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):  # zero norm -> 1.0
        raw = 1.0 - dot / (na * nb)
    out = np.where(raw < TOL, 0.0, raw)
    return np.where((na <= TOL) | (nb <= TOL), 1.0, out)


def seq_nearest(metric: str, A, B, k: int, b2=None):
    """The nearest rows of ``B`` to each row of ``A`` with their exact
    seq_dists distances: flat pairs ``(i, j, d)`` for a matrix ``A``
    (n, D), ``(j, d)`` for one query ``A`` (D,), in (i, j) order. Per
    row of A they hold EVERY row of B at most as far as the k-th
    nearest (ties included), possibly a few more; each ``d`` is
    ``seq_dists(metric, A[i], B[j])`` bit for bit. Callers cut them
    with their own (dist, id) tie-break.

    Up to TWO_STAGE_MIN_PAIRS pairs (or k >= len(B)) score the full
    sequential mesh. Above it a BLAS pass (``b2``: B's squared row
    norms, when precomputed) bounds each row's k-th distance and only
    rows within the config.TWO_STAGE_MARGIN proof's margin of it are
    rescored sequentially: the one two-stage scorer of exact kNN, the
    serving readers, the centroid argmins and the SQ8 shortlist."""
    check_metric(metric)
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    _check_dims(A, B)
    one = A.ndim == 1
    A2 = A[None] if one else A
    n, m = len(A2), len(B)
    kk = min(k, m)
    if n == 0 or kk < 1:
        j, d = np.empty(0, dtype=np.int64), np.empty(0)
        return (j, d) if one else (j, j, d)
    if n * m <= TWO_STAGE_MIN_PAIRS or kk == m:
        if one:
            return np.arange(m), seq_dists(metric, A, B)
        d = seq_dists(metric, A[:, None], B[None]).ravel()
        return np.repeat(np.arange(n), m), np.tile(np.arange(m), n), d
    a2 = np.einsum("ij,ij->i", A2, A2)
    if b2 is None:
        b2 = np.einsum("ij,ij->i", B, B)
    approx = A2 @ B.T  # the BLAS pass, turned in place into distances
    is_cos = metric in ("cosine", "angular")
    if is_cos:
        na, nb = np.sqrt(a2), np.sqrt(b2)
        with np.errstate(divide="ignore", invalid="ignore"):
            approx /= na[:, None]
            approx /= nb[None]
        np.subtract(1.0, approx, out=approx)
        approx[na <= TOL] = 1.0
        approx[:, nb <= TOL] = 1.0
        margin = TWO_STAGE_MARGIN
    else:  # squared L2, for sq_l2 too
        approx *= -2.0
        approx += a2[:, None]
        approx += b2[None]
        # NaN-skipping maxima: a NaN row must not drop the other rows'
        # scale (max(1, nan) is 1); an all-NaN side counts as 0
        scale = math.sqrt(float(np.fmax.reduce(a2, initial=0.0))
                          + float(np.fmax.reduce(b2, initial=0.0)))
        margin = TWO_STAGE_MARGIN * math.sqrt(A2.shape[1] / 64) * max(1.0, scale)
    # partition sorts NaN last: the k-th skips NaN pairs
    kth = np.partition(approx, kk - 1, axis=1)[:, kk - 1]
    # the L2 cut is set in the sqrt'd domain, then squared back: no
    # sqrt over the whole block
    cut = kth + margin if is_cos else (np.sqrt(np.maximum(kth, 0.0)) + margin) ** 2
    # "not beyond the cut" keeps NaN pairs, as the full mesh does
    i, j = np.nonzero(~(approx > cut[:, None]))
    if one:
        return j, seq_dists(metric, A, B[j])
    return i, j, seq_dists(metric, A[i], B[j])


def is_angular(metric: str) -> bool:
    if metric == "l2":
        return False
    if metric in ("cosine", "angular"):
        return True
    raise ValueError(f"unknown metric {metric!r}")
