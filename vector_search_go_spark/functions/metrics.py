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

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_search_go_spark.config import TOL


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


def is_angular(metric: str) -> bool:
    if metric == "l2":
        return False
    if metric in ("cosine", "angular"):
        return True
    raise ValueError(f"unknown metric {metric!r}")
