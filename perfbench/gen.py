"""Seeded input generator for the benchmark.

Every input a run needs comes from one ``numpy.random.Generator`` seeded
with the run's ``--seed``: the same seed gives byte-identical parquet
tables, queries, ingest batch and exact top-k truth; another seed gives
other ones. Nothing here imports the engine, so the program under test
receives only the files written below.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = 64
N_CENTERS = 128
# Cluster signal must dominate the per-point noise, whose norm is
# ~sqrt(DIMS) = 8: a near-uniform corpus lets no index family prune.
CENTER_SCALE = 24.0


def centers(rng: np.random.Generator, dims: int = DIMS) -> np.ndarray:
    c = rng.normal(size=(N_CENTERS, dims))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def around(rng: np.random.Generator, c: np.ndarray, n: int) -> np.ndarray:
    """``n`` unit-norm vectors, each near a random one of ``c``."""
    assign = rng.integers(0, len(c), size=n)
    X = c[assign] * CENTER_SCALE + rng.normal(size=(n, c.shape[1]))
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def clustered(rng: np.random.Generator, n: int, dims: int = DIMS) -> np.ndarray:
    """Unit-norm vectors around ``N_CENTERS`` random directions."""
    return around(rng, centers(rng, dims), n)


def serve_corpus(build_seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(centers, corpus) of the serving workload's stores."""
    rng = np.random.default_rng([build_seed, 2])
    c = centers(rng)
    return c, around(rng, c, n)


def serve_requests(seed: int, c: np.ndarray, n_queries: int, n_ingest: int):
    """(held-out queries, ingest batch) drawn around the corpus centers."""
    rng = np.random.default_rng([seed, 3])
    return around(rng, c, n_queries), around(rng, c, n_ingest)


def id_vec_table(ids: np.ndarray, X: np.ndarray) -> pa.Table:
    """(id bigint, vec array<double>): the stores' corpus schema."""
    flat = pa.array(X.astype(np.float64).ravel(), pa.float64())
    offsets = pa.array(np.arange(0, X.size + 1, X.shape[1], dtype=np.int32))
    return pa.table(
        {"id": pa.array(ids, pa.int64()), "vec": pa.ListArray.from_arrays(offsets, flat)}
    )


def shaped_ids(n: int, n_queries: int, n_cells: int) -> np.ndarray:
    """``n`` distinct ids of which exactly ``n_queries`` satisfy
    ``id % 50 == 0`` (the entries' query split) and exactly ``n_cells``
    satisfy ``id % 7 == 3`` (their IVF centroid pick), so query and cell
    counts stay fixed while the corpus grows."""
    cand = np.arange(n * 2 + 60 * n_queries, dtype=np.int64)
    queries = cand[(cand % 50 == 0) & (cand % 7 != 3)][:n_queries]
    keep = cand % 50 != 0
    cells = cand[keep & (cand % 7 == 3)][:n_cells]
    rest = cand[keep & (cand % 7 != 3)][: n - n_queries - n_cells]
    ids = np.concatenate([queries, cells, rest])
    if len(ids) != n:
        raise ValueError(f"cannot shape {n} ids with {n_queries}/{n_cells}")
    return ids


def embeddings_table(ids: np.ndarray, X: np.ndarray, labels: np.ndarray) -> pa.Table:
    """The ``embeddings.parquet`` schema: (vec_id int64,
    embedding list<float>, label int32)."""
    flat = pa.array(X.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, X.size + 1, X.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def exact_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Ids of the exact L2 top-``k`` of each query row, ties by id."""
    d = (Q * Q).sum(1)[:, None] - 2.0 * Q @ X.T + (X * X).sum(1)[None, :]
    part = np.argpartition(d, k, axis=1)[:, : k + 1]
    out = np.empty((len(Q), k), dtype=np.int64)
    for i, cols in enumerate(part):
        order = np.lexsort((ids[cols], d[i, cols]))[:k]
        out[i] = ids[cols[order]]
    return out


def write_ann_dir(path: str, seed: int, n: int, n_queries: int, n_cells: int) -> dict:
    """SF dir holding only ``embeddings.parquet``: ``n`` clustered
    vectors with query/centroid counts pinned by :func:`shaped_ids`."""
    rng = np.random.default_rng([seed, 1])
    X = clustered(rng, n)
    ids = shaped_ids(n, n_queries, n_cells)
    perm = rng.permutation(n)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        embeddings_table(ids[perm], X, rng.integers(0, 10, size=n)),
        os.path.join(path, "embeddings.parquet"),
    )
    return {"n": n, "dims": DIMS, "n_queries": n_queries, "n_cells": n_cells}
