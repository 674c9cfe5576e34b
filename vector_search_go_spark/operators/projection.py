"""Seeded Gaussian random projection (Johnson-Lindenstrauss transform).

Dimensionality reduction is the standard preprocessing stage in front
of high-dimensional ANN (SIFT/GIST pipelines project before indexing;
the reference has no dim-reduction operator — its hasher consumes raw
vectors, lsh/hasher.go:100-138 — so at 784-d every plane test pays full
width). A JL projection to d' = O(log n / eps^2) dims preserves pairwise
distances within (1 +/- eps) with high probability, shrinking both the
index and every distance evaluation downstream.

Spark-first shape: the projection matrix is model-sized (dim_in x
dim_out doubles, KBs) and rides in a pandas-UDF closure.
Projection is a pure per-row map — NO shuffle, no join; at 100 TB it
pipelines inside the scan stage.

Bit-exactness: the kernel accumulates over input dimension i in
ascending order with plain IEEE adds:

    y_j = fold_{i=0..D-1} acc + x_i * m[i][j]

which is the same order as the DuckDB oracle's
``list_reduce(list_prepend(0.0, list_transform(range(1, D+1), ...)))``
— so kernel == oracle to the last ulp (tests/test_projection.py checks
the kernel against that fold written out in the test).

The matrix itself is derived from a counter-mode PCG64 stream seeded by
an explicit integer — the same "seeded, reproducible model" discipline
as the LSH forest (SURVEY §7 fixes hasher.go:165's wall-clock seed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — module scope so pandas_udf signatures
# survive postponed annotation evaluation


def projection_matrix(dim_in: int, dim_out: int, seed: int = 0) -> np.ndarray:
    """(dim_in, dim_out) float64 Gaussian matrix scaled by 1/sqrt(dim_out)
    (the JL normalization so E[|y|^2] = |x|^2). Deterministic in seed."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim_in, dim_out)) / np.sqrt(dim_out)


def project_arrow(mat: np.ndarray):
    """Arrow-batched projection kernel: returns a pandas_udf column
    function over the row vector. Accumulates over input dims in
    ascending order (one rank-1 update per dim), bit-identical to the
    sequential fold ``sql_projection_fold`` writes for DuckDB."""
    from pyspark.sql.functions import pandas_udf

    m = np.ascontiguousarray(mat, dtype=np.float64)

    @pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        out = np.zeros((V.shape[0], m.shape[1]))
        for i in range(m.shape[0]):
            out += V[:, i, None] * m[None, i, :]
        return pd.Series(list(out))

    return proj


def sql_projection_matrix_cte(mat: np.ndarray, name: str = "mat") -> str:
    """DuckDB CTE body: one row holding the matrix as list<list<double>>
    column ``m``. Every element goes through CAST('<repr>' AS DOUBLE):
    a BARE decimal literal parses as DECIMAL(21,20) in DuckDB and the
    fold would then run mixed decimal/double arithmetic (1-ulp drift vs
    Spark — observed); the string cast parses straight to a
    correctly-rounded double, and repr() round-trips exactly. Hoisting
    into a CTE also builds the literal once instead of per element."""
    rows = ",".join(
        "[" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in row) + "]"
        for row in mat
    )
    return f"{name} AS (SELECT [{rows}] AS m)"


def sql_projection_fold(mat: np.ndarray, vec_expr: str = "embedding",
                        j_expr: str = "j.pos") -> str:
    """DuckDB fold fragment: projected value at 1-based output position
    ``j_expr``, referencing the CTE's ``m`` column — same ascending-i
    sequential adds as project_arrow."""
    dim_in = mat.shape[0]
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {dim_in + 1}), "
        f"_i -> CAST({vec_expr}[_i] AS DOUBLE) * m[_i][{j_expr}])), "
        f"(_a, _b) -> _a + _b)"
    )
