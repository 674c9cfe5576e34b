"""Driver-side serving readers: point lookups over the engine's
PERSISTED stores with NO Spark job.

The reference serves one query in 15-268 ms because Search walks an
in-process map (reference lsh/lsh.go:137-197; store/kv/store.go:16-101
is an in-memory KV). The Spark point paths (lsh.search.lsh_point_search,
operators.ann_ivf.ivf_point_search, operators.pq.ivfpq_point_search)
read only the probed buckets/cells, but each call still pays Spark's
fixed per-job floor (~3 s) — fine for batch, wrong for online serving.

These readers close that gap using ONLY the engine's own artifacts:

  - the model loads once, driver-side (LSH forest node table / IVF
    centroids / PQ codebook — all KB-MB sized);
  - the query hashes / coarse-probes in numpy — the exact same code the
    engine broadcasts to executors (lsh.hasher.Forest,
    operators.ann_ivf.probe_cells);
  - the probed (tree, hash) bucket or cell partitions are read with
    pyarrow, exploiting the SAME layout the Spark paths rely on
    (hive-partitioned dirs + hash-sorted small row groups written by
    LshIndex.save / ivf_save / ivfpq_save — row-group min/max stats
    prune everything but the probed buckets);
  - hot buckets are thinned by the same xxhash64 survivor rule
    (serve.xxh64 is a bit-exact port of Spark's hash), and scoring
    uses the same sequential-IEEE numpy kernel
    (functions.metrics.seq_dists).

A single lookup and a batch share one pipeline: every reader's
``search`` is a one-query ``search_many``, and a query's rows never
depend on the rest of its batch (probes, candidates and scores are per
query; only model hashing and partition reads are shared).

Result: bit-identical rows to the Spark point paths on the same saved
store (pinned in tests/test_serve_local.py) at single-digit-to-tens of
ms per query (SCALE.md serving table).

100 TB shape: one reader process holds one store shard (the bucket
dirs it serves); a fleet of readers behind a router IS the serving
tier — Spark builds and compacts the stores, readers only ever read
probed partitions, so reader I/O is bounded by bucket size, not corpus
size. ``preload_vectors=True`` additionally pins the vector table in
reader RAM (the reference's own regime — its whole store is in-memory);
at shard sizes where that doesn't fit, lazy mode reads only candidate
row groups from the id-sorted vectors table.

Compaction contract (same rule as engine.compact / ingest_cycle): a
FULLY-PRELOADED reader serves its in-RAM snapshot through a store
rewrite (it never touches files after init — pinned in
test_reader_snapshot_across_compaction); any reader that still reads
from disk (lazy vectors, stats-pruned buckets, on-disk cells/codes)
holds file paths a compaction swap deletes and must be reconstructed
after 'rebuilt'/'compacted' cycles.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pandas as pd

from vector_search_go_spark.functions.metrics import seq_dists, seq_nearest
from vector_search_go_spark.io import meta_files, parse_meta_files
from vector_search_go_spark.operators.argmin import topn
from vector_search_go_spark.streaming.delete import (
    drop_tombstoned,
    load_tombstone_array,
)

from vector_search_go_spark.serve.pqindex import (
    HivePartIndex,
    RowGroupIndex,
    TreeBucketIndex,
    binary_column_u8_matrix as _binary_column_u8_matrix,
    list_column_int_matrix,
    list_column_matrix,
)
from vector_search_go_spark.serve.xxh64 import (
    SEED,
    hash_int,
    hash_long,
    survivor_pmod_multi,
    survivor_pmod_vec,
)


def _span_rows(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """The row indices of the sorted-array spans [lo[i], hi[i]),
    concatenated (searchsorted left/right bounds of a key set)."""
    n = hi - lo
    return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))


def _id_array(ids) -> np.ndarray:
    """Any iterable of integer ids -> int64 array (arrays pass
    through)."""
    if isinstance(ids, np.ndarray):
        return ids.astype(np.int64, copy=False)
    return np.fromiter(ids, dtype=np.int64)


def _slot_frame(query_ids, parts, cols: dict) -> pd.DataFrame:
    """Per-query slot arrays ``(query position, ids, *cols)`` -> ONE
    (query_id, id, *cols) frame in batch order with ``cols``' dtypes:
    the wire schema of the sharded IVFADC legs."""
    qids = np.asarray(query_ids, dtype=np.int64)

    def cat(arrs, dtype):
        if not arrs:
            return np.empty(0, dtype=dtype)
        return np.concatenate(arrs).astype(dtype, copy=False)

    frame = {
        "query_id": cat([np.full(len(p[1]), qids[p[0]]) for p in parts], np.int64),
        "id": cat([p[1] for p in parts], np.int64),
    }
    for c, (name, dtype) in enumerate(cols.items()):
        frame[name] = cat([p[2 + c] for p in parts], dtype)
    return pd.DataFrame(frame)


def _result_frame(ids, dists, k: int, query_id: int) -> pd.DataFrame:
    """threshold-filtered candidates -> top-k by (dist, id) with rn,
    the exact (query_id, id, dist, rn) contract of the Spark paths
    (operators.topk.topk_per_group tie-break). Numeric ids sort via
    np.lexsort (a Python key-tuple sort over tens of thousands of
    candidates is serving-visible time); anything else falls back.
    An empty id array keeps its dtype and an empty list reads as int64:
    a float64 ``id`` column in one empty frame would promote every id
    of a concatenated batch and round ids past 2**53."""
    ids_arr = np.asarray(ids)
    if not len(ids_arr) and not isinstance(ids, np.ndarray):
        ids_arr = np.empty(0, dtype=np.int64)
    if np.issubdtype(ids_arr.dtype, np.number):
        d = np.asarray(dists, dtype=np.float64)
        order = topn(ids_arr, d, k)
        return pd.DataFrame(
            {
                "query_id": np.full(len(order), query_id, dtype=np.int64),
                "id": ids_arr[order],
                "dist": d[order],
                "rn": np.arange(1, len(order) + 1, dtype=np.int64),
            }
        )
    order = sorted(range(len(ids)), key=lambda i: (dists[i], ids[i]))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(len(order), query_id, dtype=np.int64),
            "id": [ids[i] for i in order],
            "dist": np.asarray([dists[i] for i in order], dtype=np.float64),
            "rn": np.arange(1, len(order) + 1, dtype=np.int64),
        }
    )


def _concat(frames) -> pd.DataFrame:
    """Per-query result frames -> one frame in batch order; no frames
    is the empty result frame."""
    frames = list(frames)
    if not frames:
        return _result_frame([], [], 0, 0)
    return pd.concat(frames, ignore_index=True)


def _read_store_meta(path: str) -> dict:
    """Read ``{path}/store_meta`` (one JSON line, written by ivf_save /
    scan_save) without Spark; {} when the store has none."""
    return parse_meta_files(meta_files(path)) or {}


def _read_centroids(path: str):
    """``{path}/centroids`` -> (cids int64, matrix float64) sorted by
    cid: the pyarrow twin of argmin.collect_centroids, shared by the
    IVF and IVFADC readers."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(path, "centroids"), columns=["cid", "cvec"])
    cids = tbl.column("cid").to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(cids, kind="stable")
    mat = np.array(tbl.column("cvec").to_pylist(), dtype=np.float64)
    return cids[order], mat[order]


def _is_swap_error(exc: BaseException) -> bool:
    """FileNotFound-class read errors — what a lookup sees when it
    races a compaction's two-rename directory swap (engine.compact /
    ingest_cycle): the file index resolved paths that the swap just
    deleted. Everything else (corruption, permissions, schema) must
    surface."""
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return isinstance(exc, (OSError, IOError)) and (
        "No such file" in msg or "does not exist" in msg
    )


def _swap_retry(fn):
    """One bounded reload-and-retry on swap errors (VERDICT r5 item 5,
    the SCALE.md compaction-probe posture: "a serving tier that
    retries once on read error sees zero failed lookups"). A plain
    retry cannot help — the reader's file indexes hold the PRE-swap
    paths — so the retry re-runs __init__ with the captured ctor args
    (rebuilding file indexes and any preloads against the post-swap
    store) and replays the lookup once. Correctness: lookups are pure
    reads, the store swap is atomic per directory (two renames), and a
    reconstructed reader is pinned bit-identical to the Spark point
    paths — so the retried answer is exactly the post-swap store's
    answer. NOT a concurrency primitive: reload mutates reader state,
    so multi-threaded serving keeps one reader per thread (the fleet
    shape in the module docstring)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        try:
            return fn(self, *args, **kwargs)
        except Exception as exc:
            ctor = getattr(self, "_ctor", None)
            if ctor is None or not _is_swap_error(exc):
                raise
            self.__init__(**ctor)
            return fn(self, *args, **kwargs)

    return wrapper


def _nearest_frame(metric: str, q: np.ndarray, ids, V: np.ndarray, k: int,
                   threshold: float | None, query_id: int,
                   n2: np.ndarray | None = None) -> pd.DataFrame:
    """The LSH, IVF and scan readers' result frame over candidate rows
    ``(ids, V)`` (``n2``: their squared norms, if precomputed):
    seq_nearest's pairs, threshold-filtered (``dist <= threshold``
    keeps a prefix of the (dist, id) order, so filtering after the cut
    keeps the same rows), ranked by _result_frame."""
    j, d = seq_nearest(metric, q, V, k, n2)
    if threshold is not None:
        m = d <= float(threshold)
        j, d = j[m], d[m]
    ids = ids[j] if isinstance(ids, np.ndarray) else [ids[x] for x in j]
    return _result_frame(ids, d, k, query_id)


def _batch_queries(Q, query_ids):
    """Normalize a ``search_many`` batch shared by all three readers:
    float64 matrix, sequential default query_ids, length check."""
    Q = np.asarray(Q, dtype=np.float64)
    if query_ids is None:
        query_ids = np.arange(len(Q), dtype=np.int64)
    if len(query_ids) != len(Q):
        raise ValueError(
            f"search_many: {len(Q)} query vectors but "
            f"{len(query_ids)} query_ids"
        )
    return Q, query_ids


def _union_values(probes) -> list:
    """Distinct partition values across a batch's probe lists, first-seen
    order (the batch reads each probed cell once)."""
    needed, seen = [], set()
    for pr in probes:
        for c in pr:
            ci = int(c)
            if ci not in seen:
                seen.add(ci)
                needed.append(ci)
    return needed


def _cell_arrays(index: HivePartIndex, values, data_col: str, to_matrix) -> dict:
    """Decode partition tables to ``{value: (ids, matrix)}`` via the
    index's parallel reader; empty/missing partitions are dropped. The
    one (ids, matrix) builder behind both readers' preload modes and
    their batch paths."""
    tbls = index.read_values_parallel(list(values), ["id", data_col])
    return {
        v: (t.column("id").to_numpy(zero_copy_only=False), to_matrix(t))
        for v, t in tbls.items()
        if t is not None and t.num_rows
    }


class LocalLshReader:
    """Point lookups over a saved LSH index dir (LshIndex.save layout:
    model_config + model_nodes + buckets/tree=N/ + vectors)."""

    def __init__(
        self,
        path: str,
        metric: str,
        preload_vectors: bool = True,
        preload_buckets: bool = False,
        global_hot_buckets: dict | None = None,
    ):
        """``global_hot_buckets``: {(tree, hash): global_sz} for buckets
        whose WHOLE-STORE size exceeds config.max_bucket_size — passed
        by ShardedReader (serve.sharded) when this reader serves one
        id-shard of a larger store. The survivor rule is per-id
        deterministic given (tree, hash, keep_mod), so evaluating it
        with the GLOBAL keep_mod on each shard's local members makes
        the union across shards exactly the unsharded survivor set; a
        bucket absent from the dict is globally under the cap (local
        size <= global size), so it passes whole. None (default) =
        single-store semantics, sizes observed from this store."""
        import pyarrow.parquet as pq

        # captured for _swap_retry's reload-and-retry (reload == re-init)
        self._ctor = dict(
            path=path, metric=metric, preload_vectors=preload_vectors,
            preload_buckets=preload_buckets,
            global_hot_buckets=global_hot_buckets,
        )
        self._hot_global = global_hot_buckets
        self.path = path
        self.metric = metric
        # tombstoned ids (streaming.delete) masked from every candidate
        # BEFORE the survivor rule — live bucket sizes drive thinning,
        # matching a store re-saved without the ids
        from vector_search_go_spark.lsh.index import read_forest

        self._tomb = load_tombstone_array(path)
        self.forest = read_forest(path)
        self.config = self.forest.config
        self._buckets = TreeBucketIndex(
            os.path.join(path, "buckets"), preload=preload_buckets
        )
        self._vec_path = os.path.join(path, "vectors")
        self._vec_index = None
        self._vec_rgindex = None
        self._norms2 = None
        if preload_vectors:
            # the reference's serving regime: the whole store lives
            # in process memory (store/kv/store.go), decoded zero-copy
            # from the Arrow buffers; numeric id lookup is a
            # searchsorted over the sorted id array (a per-candidate
            # Python dict probe is visible time at 10k+ candidates)
            tbl = pq.read_table(self._vec_path, columns=["id", "vec"])
            mat = list_column_matrix(tbl, "vec", self.config.dims)
            ids_arr = tbl.column("id").to_numpy(zero_copy_only=False)
            if np.issubdtype(ids_arr.dtype, np.number):
                # materialize the matrix ID-SORTED: candidate sets are
                # sorted (np.unique), so lookups gather monotonically
                # increasing rows — a near-sequential sweep instead of
                # random access over the whole matrix
                order = np.argsort(ids_arr, kind="stable")
                mat = np.ascontiguousarray(mat[order])
                self._vec_index = (ids_arr[order], None, mat)
                # squared norms for the two-stage scorer's BLAS stage
                self._norms2 = np.einsum("ij,ij->i", mat, mat)
            else:
                self._vec_index = (
                    {v: i for i, v in enumerate(ids_arr.tolist())},
                    None,
                    mat,
                )
        else:
            # lazy: id-sorted vectors + row-group stats = candidate
            # fetches read only matching row groups
            self._vec_rgindex = RowGroupIndex(
                glob.glob(os.path.join(self._vec_path, "*.parquet")), "id"
            )

    def _candidates(self, hashes: np.ndarray, probes: np.ndarray) -> list:
        """Probed-bucket reads + hot-bucket survivor rule + distinct —
        the pyarrow twin of lsh.search.point_bucket_candidates over
        lsh.search._bound_scanned_buckets. Per tree: row groups matched
        by hash min/max stats decode in a thread pool, the exact hash
        filter runs in numpy, then the xxhash64 thinning applies per
        physical bucket (sz counts physical rows, matching the Spark
        count window — see bound_hot_buckets)."""
        probe_map = {
            t: sorted({int(hashes[0, t]), int(probes[0, t])})
            for t in range(hashes.shape[1])
        }
        hit = self._buckets.probe_many(probe_map)
        if self._tomb is not None:
            hit = {
                t: (hv, i)
                for t, (hv0, i0) in hit.items()
                for i, hv in [drop_tombstoned(self._tomb, i0, hv0)]
                if len(i)
            }
        cap = self.config.max_bucket_size
        kept: list = []
        over: list = []  # (prefix, members, keep_mod) of hot buckets
        numeric = True
        for t in sorted(hit):
            hvals, ids = hit[t]
            numeric = numeric and np.issubdtype(ids.dtype, np.number)
            if cap is None:
                kept.append(ids)
                continue
            tree_prefix = hash_int(int(t), SEED)
            for h in np.unique(hvals):
                sel = ids[hvals == h]
                if self._hot_global is not None:
                    # sharded store: hotness and keep_mod come from the
                    # WHOLE-store size so the per-id survivor predicate
                    # matches the unsharded reader's exactly
                    g = self._hot_global.get((int(t), int(h)))
                    if g is None:
                        kept.append(sel)
                        continue
                    mod = int(math.ceil(g / cap))
                else:
                    sz = len(sel)
                    if sz <= cap:
                        kept.append(sel)
                        continue
                    mod = int(math.ceil(sz / cap))
                if not numeric:
                    pm = survivor_pmod_vec(t, int(h), sel, mod)
                    kept.append(sel[pm == 0])
                    continue
                over.append((hash_long(int(h), tree_prefix), sel, mod))
        if over:
            # one batched hash pass over every hot bucket's members
            # (survivor_pmod_multi) instead of a vectorized call per
            # bucket — same bits, ~5x less per-query overhead
            members = np.concatenate([s for _, s, _ in over])
            pm = survivor_pmod_multi(
                [p for p, _, _ in over],
                [len(s) for _, s, _ in over],
                members,
                [m for _, _, m in over],
            )
            kept.append(members[pm == 0])
        if not kept:
            return np.empty(0, dtype=np.int64) if numeric else []
        allk = np.concatenate(kept)
        if numeric:
            return np.unique(allk)
        return list(dict.fromkeys(allk.tolist()))

    def _fetch_vectors(self, cand: list):
        """-> (ids, V, rows) where rows are V's row indices into the
        preloaded matrix (None on the lazy / string-keyed paths, whose
        squared norms the scorer computes itself)."""
        if self._vec_index is not None:
            index, _, mat = self._vec_index
            if isinstance(index, dict):  # string-keyed fallback
                found = [c for c in cand if c in index]
                return found, mat[[index[c] for c in found]], None
            c = np.asarray(cand)
            pos = np.searchsorted(index, c)
            ok = pos < len(index)
            ok[ok] = index[pos[ok]] == c[ok]
            rows = pos[ok]  # id-sorted matrix: position IS the row
            return c[ok], mat[rows], rows
        tbl = self._vec_rgindex.read(sorted(cand), ["id", "vec"])
        if tbl is None or tbl.num_rows == 0:
            return [], np.empty((0, self.config.dims)), None
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        mask = np.isin(ids, np.asarray(sorted(cand)))
        V = list_column_matrix(tbl, "vec", self.config.dims)
        return ids[mask].tolist(), V[mask], None

    def _query_frame(self, q: np.ndarray, cand, k: int,
                     threshold: float | None, query_id: int) -> pd.DataFrame:
        """One query's result frame over its candidate ids."""
        if len(cand) == 0:
            return _result_frame([], [], k, query_id)
        ids, V, rows = self._fetch_vectors(cand)
        n2 = None if rows is None else self._norms2[rows]
        return _nearest_frame(self.metric, q, ids, V, k, threshold, query_id, n2)

    def search(
        self,
        qvec,
        k: int = 10,
        threshold: float | None = None,
        query_id: int = 0,
    ) -> pd.DataFrame:
        """One lookup: a one-query ``search_many``."""
        return self.search_many(
            [list(qvec)], k=k, threshold=threshold, query_ids=[query_id]
        )

    @_swap_retry
    def search_many(
        self,
        Q,
        k: int = 10,
        threshold: float | None = None,
        query_ids=None,
    ) -> pd.DataFrame:
        """Point lookups with the forest hashing amortized across the
        batch — one vectorized hash_batch/probe_batch pass instead of
        per-query tree walks. The per-query candidate work (probe,
        survivor rule, gather, two-stage score) is bounded by bucket
        mass, so a serving tier that batches arrivals pays the
        reader's floor once per batch, not once per query."""
        Q, query_ids = _batch_queries(Q, query_ids)
        if len(Q) == 0:
            return _result_frame([], [], k, 0)
        hashes = self.forest.hash_batch(Q)
        probes = self.forest.probe_batch(hashes)
        return _concat(
            self._query_frame(
                Q[i], self._candidates(hashes[i : i + 1], probes[i : i + 1]),
                k, threshold, int(qid),
            )
            for i, qid in enumerate(query_ids)
        )


class LocalIvfReader:
    """Point lookups over a saved IVF store (ivf_save layout:
    centroids + cells/cell=N/ holding full vectors).

    Probed rows are scored by the shared two-stage scorer
    (functions.metrics.seq_nearest: BLAS bound, exact rescore of the
    margin set), so returned rows stay bit-identical to seq_dists over
    every probed row.

    ``preload_cells=True`` pins every cell's (ids, matrix, squared
    norms) in reader RAM at init — the fully in-memory regime (same
    trade as the LSH reader's ``preload_buckets``): a probe becomes a
    dict lookup + numpy concat instead of per-query parquet decode.
    The norms cost 8 B per row; the lazy path computes them per read."""

    def __init__(self, path: str, metric: str = "cosine",
                 preload_cells: bool = False):
        self._ctor = dict(path=path, metric=metric, preload_cells=preload_cells)
        self._tomb = load_tombstone_array(path)
        self.path = path
        self.metric = metric
        self.model = _read_centroids(path)
        self.dims = self.model[1].shape[1]
        self._cells = HivePartIndex(os.path.join(path, "cells"), "cell")
        self._mem_cells = None
        if preload_cells:
            # parquet reads release the GIL — fan the one-time preload
            # across the index's thread pool instead of one cell at a
            # time
            self._mem_cells = self._read_cells(self._cells.values())

    def _read_cells(self, values) -> dict:
        """{cell: (ids, V, squared row norms)} of the given cells."""
        return {
            c: (ids, V, np.einsum("ij,ij->i", V, V))
            for c, (ids, V) in _cell_arrays(
                self._cells, values, "vec",
                lambda t: list_column_matrix(t, "vec", self.dims),
            ).items()
        }

    def _query_frame(self, q, hits, k: int, threshold: float | None,
                     query_id: int) -> pd.DataFrame:
        """One query's result frame from its probed cells' (ids, V, n2)
        in probe order: tombstones dropped, two-stage scored,
        threshold applied."""
        if not hits:
            return _result_frame([], [], k, query_id)
        ids, V, n2 = drop_tombstoned(
            self._tomb, *(np.concatenate(col) for col in zip(*hits))
        )
        if len(ids) == 0:
            return _result_frame([], [], k, query_id)
        return _nearest_frame(self.metric, q, ids, V, k, threshold, query_id, n2)

    def search(
        self,
        qvec,
        k: int = 10,
        nprobe: int = 4,
        threshold: float | None = None,
        query_id: int = 0,
    ) -> pd.DataFrame:
        """One lookup: a one-query ``search_many``."""
        return self.search_many(
            [list(qvec)], k=k, nprobe=nprobe, threshold=threshold,
            query_ids=[query_id],
        )

    @_swap_retry
    def search_many(
        self,
        Q,
        k: int = 10,
        nprobe: int = 4,
        threshold: float | None = None,
        query_ids=None,
    ) -> pd.DataFrame:
        """Point lookups. Each distinct probed cell is decoded ONCE per
        batch — queries probing overlapping cells share the parquet
        read, so batch cost is bounded by the UNION of probed cells,
        not batch x nprobe. Per-query scoring order does not depend on
        the batch (cells in probe order, rows in store order)."""
        from vector_search_go_spark.operators.ann_ivf import probe_cells

        Q, query_ids = _batch_queries(Q, query_ids)
        if len(Q) == 0:
            return _result_frame([], [], k, 0)
        probes = probe_cells(Q, self.model, self.metric, nprobe)
        cell_map = (
            self._mem_cells if self._mem_cells is not None
            else self._read_cells(_union_values(probes))
        )
        return _concat(
            self._query_frame(
                Q[i],
                [cell_map[int(c)] for c in probes[i] if int(c) in cell_map],
                k, threshold, int(qid),
            )
            for i, qid in enumerate(query_ids)
        )


class LocalIvfPqReader:
    """Point lookups over a saved IVFADC store (ivfpq_save layout:
    centroids + codebook + cells/cell=N/ codes + id-sorted vectors).
    L2-only, like the store itself.

    ``preload_codes=True`` pins the per-cell (ids, codes) arrays in
    reader RAM — the canonical IVFADC memory contract (codes are
    M_SUB bytes/vector, ~8 MB at 1M; full vectors stay on disk and are
    read only for the shortlist rerank). A probe then skips the
    per-query parquet decode entirely; results are identical because
    shortlist selection keys on (adc_dist, id) and ids are unique
    across cells, so cell concat order cannot matter.

    ``preload_vectors=True`` additionally pins the full-precision
    vectors table (id-sorted numpy arrays, n x dims x 8 B — ~512 MB at
    1M x 64): the shortlist rerank becomes two searchsorted slices
    instead of a scattered row-group read. This is the IVF-Flat-in-RAM
    rerank regime, NOT the default codes-only contract — reach for it
    when batch rerank I/O is the measured bottleneck (the r7 SCALE.md
    sharded-batch inversion) and shard RAM allows; results are
    bit-identical because rerank rows are per-id independent and every
    downstream consumer ranks by (dist, id)."""

    def __init__(
        self,
        path: str,
        preload_codes: bool = False,
        preload_vectors: bool = False,
        preload_sq8: bool = False,
    ):
        import pyarrow.parquet as pq

        from vector_search_go_spark.operators.pq import stack_codebook

        self._ctor = dict(
            path=path,
            preload_codes=preload_codes,
            preload_vectors=preload_vectors,
            preload_sq8=preload_sq8,
        )
        self.path = path
        self._tomb = load_tombstone_array(path)
        self.coarse = _read_centroids(path)
        btbl = pq.read_table(os.path.join(path, "codebook"))
        brows = sorted(
            zip(
                btbl.column("sub").to_pylist(),
                btbl.column("code").to_pylist(),
                btbl.column("cvec").to_pylist(),
            )
        )
        cb_ids: dict[int, np.ndarray] = {}
        cb_mats: dict[int, np.ndarray] = {}
        for sub in sorted({r[0] for r in brows}):
            sr = [r for r in brows if r[0] == sub]
            cb_ids[sub] = np.array([r[1] for r in sr], dtype=np.int64)
            cb_mats[sub] = np.array([r[2] for r in sr], dtype=np.float64)
        # stacked once: every ADC table is one residual_lut broadcast
        self._codebook = stack_codebook(cb_ids, cb_mats)
        self.dims = self.coarse[1].shape[1]
        self._cpos = {int(c): i for i, c in enumerate(self.coarse[0])}
        self._cells = HivePartIndex(os.path.join(path, "cells"), "cell")
        self._vectors = RowGroupIndex(
            glob.glob(os.path.join(path, "vectors", "*.parquet")), "id"
        )
        self._mem_codes = None
        meta = _read_store_meta(path)
        # rebuild-time measured rerank budget (maintain_ivfpq +
        # adc_shortlist_probe); 0 = none recorded. Read once here so
        # lookups pay nothing; default-shortlist resolution must match
        # ivfpq_point_search's (parity pins in tests/test_serve_local.py).
        self._rec_shortlist = int(meta.get("recommended_shortlist", 0))
        # 'residual' stores score each candidate under its CELL's LUT
        # (q - centroid(cell)); stores predating the tag are 'raw'
        # (one global LUT per query) — same resolution as
        # pq.store_encoding
        self.encoding = str(meta.get("encoding", "raw"))
        if preload_codes:
            from vector_search_go_spark.operators.pq import M_SUB

            self._mem_codes = _cell_arrays(
                self._cells, self._cells.values(), "codes",
                lambda t: list_column_int_matrix(t, "codes", M_SUB),
            )
        self._mem_vectors = None
        if preload_vectors:
            tbl = pq.read_table(
                sorted(glob.glob(os.path.join(path, "vectors", "*.parquet"))),
                columns=["id", "vec"],
            )
            rid = tbl.column("id").to_numpy(zero_copy_only=False)
            V = list_column_matrix(tbl, "vec", self.dims)
            # appended (uncompacted) stores are not globally id-sorted —
            # sort here; duplicates stay adjacent with their multiplicity
            order = np.argsort(rid, kind="stable")
            self._mem_vectors = (
                np.ascontiguousarray(rid[order]),
                np.ascontiguousarray(V[order]),
            )
        # SQ8 rerank tier (VERDICT r10 item 4): optional vectors_sq8 +
        # sq8_stats tables (write_sq8_tier / sq8_augment_store). When
        # present, search(rerank='sq8') scores the ADC shortlist
        # against the 8x-smaller uint8 codes and exact-reranks only a
        # small top-K' — the IO cut that makes big measured shortlists
        # servable. preload_sq8 pins the codes (n x dims BYTES — ~6 GB
        # at 100M x 64, pinnable where the 51 GB floats are not).
        self._sq8_stats = None
        self._sq8_index = None
        self._mem_sq8 = None
        sq8_files = sorted(
            glob.glob(os.path.join(path, "vectors_sq8", "*.parquet"))
        )
        if sq8_files:
            srow = pq.read_table(os.path.join(path, "sq8_stats"))
            self._sq8_stats = (
                np.array(srow.column("mins").to_pylist()[0], dtype=np.float64),
                np.array(srow.column("scales").to_pylist()[0], dtype=np.float64),
            )
            self._sq8_index = RowGroupIndex(sq8_files, "id")
            if preload_sq8:
                tbl = pq.read_table(sq8_files, columns=["id", "codes"])
                rid = tbl.column("id").to_numpy(zero_copy_only=False)
                C = _binary_column_u8_matrix(tbl, "codes", self.dims)
                order = np.argsort(rid, kind="stable")
                self._mem_sq8 = (
                    np.ascontiguousarray(rid[order]),
                    np.ascontiguousarray(C[order]),
                )

    # -- the ADC pipeline every search path shares -------------------

    def _adc_dists(self, q: np.ndarray, C: np.ndarray,
                   cells: np.ndarray) -> np.ndarray:
        """ADC score of every candidate row under the store's own
        encoding. Residual: one table per (query, candidate cell) over
        q - centroid(cell); raw: the one zero-centroid table (q - 0.0
        == q, so it IS the raw LUT). Either way one pq.residual_lut
        build and one pq.adc_fold keyed by each row's table — the same
        sequential-IEEE construction and subspace-ordered adds the
        Spark point paths and the shortlist probe use, so sharded /
        unsharded / Spark stay bit-identical."""
        from vector_search_go_spark.operators.pq import adc_fold, residual_lut

        if self.encoding == "residual":
            ucells, cell_idx = np.unique(cells, return_inverse=True)
            cents = self.coarse[1][[self._cpos[int(c)] for c in ucells]]
        else:
            cents = np.zeros((1, self.dims))
            cell_idx = np.zeros(len(C), dtype=np.int64)
        return np.sqrt(
            adc_fold(residual_lut(q, cents, self._codebook), cell_idx, C)
        )

    @staticmethod
    def _adc_topl(ids, adc: np.ndarray, shortlist: int):
        """Indices of the local ADC top-``shortlist`` by (adc, id) —
        the same tie-break as the unsharded shortlist selection."""
        if np.issubdtype(np.asarray(ids).dtype, np.number):
            return topn(np.asarray(ids), adc, shortlist)
        return np.asarray(
            sorted(range(len(ids)), key=lambda i: (adc[i], ids[i]))[:shortlist],
            dtype=np.int64,
        )

    def _shortlists(self, Q: np.ndarray, nprobe: int, shortlist: int):
        """Per query of the batch, its local ADC top-``shortlist`` slots
        ``(ids, adc)`` by (adc, id), or None when no probed cell holds
        a live row — the probe / gather / score / select pipeline of
        every search path, single or batch. Each distinct probed cell
        is decoded once per batch (or read from the pinned codes);
        per query, cells come in probe order and rows in store order,
        and slot selection keys on (adc, id), so a query's slots never
        depend on the rest of the batch."""
        from vector_search_go_spark.operators.ann_ivf import probe_cells
        from vector_search_go_spark.operators.pq import M_SUB

        probes = probe_cells(Q, self.coarse, "l2", nprobe)
        if self._mem_codes is not None:
            cell_map = self._mem_codes
        else:
            cell_map = _cell_arrays(
                self._cells, _union_values(probes), "codes",
                lambda t: list_column_int_matrix(t, "codes", M_SUB),
            )
        for q, probed in zip(Q, probes):
            hits = [
                (int(c), *cell_map[int(c)]) for c in probed if int(c) in cell_map
            ]
            if not hits:
                yield None
                continue
            ids, C, cells = drop_tombstoned(
                self._tomb,
                np.concatenate([h[1] for h in hits]),
                np.concatenate([h[2] for h in hits]),
                np.concatenate(
                    [np.full(len(h[1]), h[0], dtype=np.int64) for h in hits]
                ),
            )
            if not len(ids):
                yield None
                continue
            adc = self._adc_dists(q, C, cells)
            short = self._adc_topl(ids, adc, shortlist)
            yield ids[short], adc[short]

    def _rerank_rows(self, short_ids):
        """(ids, V) of every vectors row whose id is in ``short_ids``,
        WITH multiplicity — the one float fetch behind every rerank.
        Preloaded regime: searchsorted slices over the pinned id-sorted
        arrays; disk regime: stats-pruned row-group read + exact isin
        filter. Row ORDER differs between the regimes (id-sorted vs
        store order; serial and parallel disk reads are identical);
        every consumer is order-independent — _union_dists slices the
        rows per query by id. Returns (None, None) when nothing
        matches."""
        # unique: a replayed id can occupy several shortlist SLOTS; the
        # fetch is keyed per id (the isin mask is set-semantic, and a
        # duplicated searchsorted span would emit its rows twice)
        ks = np.unique(_id_array(short_ids))
        if self._mem_vectors is not None:
            rid_s, V_s = self._mem_vectors
            sel = _span_rows(
                np.searchsorted(rid_s, ks, side="left"),
                np.searchsorted(rid_s, ks, side="right"),
            )
            if not len(sel):
                return None, None
            return rid_s[sel], V_s[sel]
        vtbl = self._vectors.read(ks.tolist(), ["id", "vec"])
        if vtbl is None or vtbl.num_rows == 0:
            return None, None
        rid = vtbl.column("id").to_numpy(zero_copy_only=False)
        mask = np.isin(rid, ks)
        if not mask.any():
            return None, None
        return rid[mask], list_column_matrix(vtbl, "vec", self.dims)[mask]

    def _union_dists(self, Q: np.ndarray, ids_per_query):
        """Exact L2 rows ``(qpos, id, dist)``: one per vectors row whose
        id is in query ``qpos``'s entry of ``ids_per_query``, with
        vectors-table multiplicity, grouped by ascending qpos and
        id-sorted within a query. ONE union read (_rerank_rows) serves
        the batch; each query scores only its own id slice of it, so
        a row's distance never depends on the rest of the batch
        (seq_dists is per row)."""
        want = [np.unique(_id_array(ids)) for ids in ids_per_query]
        union = np.concatenate(want) if want else np.empty(0, dtype=np.int64)
        rid, V = self._rerank_rows(union) if len(union) else (None, None)
        if rid is None:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )
        order = np.argsort(rid, kind="stable")
        rid_s = rid[order]
        qpos, sel, dist = [], [], []
        for i, w in enumerate(want):
            rows = order[
                _span_rows(
                    np.searchsorted(rid_s, w, side="left"),
                    np.searchsorted(rid_s, w, side="right"),
                )
            ]
            qpos.append(np.full(len(rows), i, dtype=np.int64))
            sel.append(rows)
            dist.append(seq_dists("l2", Q[i], V[rows]))
        sel = np.concatenate(sel)
        return (
            np.concatenate(qpos),
            rid[sel],
            np.concatenate(dist).astype(np.float64, copy=False),
        )

    def _sq8_rows(self, short_ids):
        """(unique sorted ids, uint8 codes) of the SQ8-tier rows whose
        id is in ``short_ids`` — the compressed twin of _rerank_rows.
        Duplicates (streaming replays) carry identical codes, so one
        row per id is kept; (None, None) when nothing matches."""
        ks = np.unique(_id_array(short_ids))
        if self._mem_sq8 is not None:
            rid_s, C_s = self._mem_sq8
            lo = np.searchsorted(rid_s, ks, side="left")
            hi = np.searchsorted(rid_s, ks, side="right")
            sel = lo[hi > lo]  # first row per present id
            if not len(sel):
                return None, None
            return rid_s[sel], C_s[sel]
        tbl = self._sq8_index.read(ks.tolist(), ["id", "codes"])
        if tbl is None or tbl.num_rows == 0:
            return None, None
        rid = tbl.column("id").to_numpy(zero_copy_only=False)
        mask = np.isin(rid, ks)
        if not mask.any():
            return None, None
        rid = rid[mask]
        C = _binary_column_u8_matrix(tbl, "codes", self.dims)[mask]
        uid, first = np.unique(rid, return_index=True)
        return uid, C[first]

    def _sq8_dists(self, q: np.ndarray, sids: np.ndarray) -> np.ndarray:
        """SQ8 distance per slot id, aligned with ``sids``; NaN for an
        id with no SQ8 row."""
        from vector_search_go_spark.operators.sq8 import sq8_dists_np

        out = np.full(len(sids), np.nan)
        uid, C8 = self._sq8_rows(sids)
        if uid is not None:
            pos = np.minimum(np.searchsorted(uid, sids), len(uid) - 1)
            hit = uid[pos] == sids
            mins, scales = self._sq8_stats
            out[hit] = sq8_dists_np(q, mins, scales, C8)[pos[hit]]
        return out

    def _sq8_select(self, q: np.ndarray, slot_ids, keep: int) -> np.ndarray:
        """ADC-shortlist slot ids -> the top-``keep`` unique ids by
        (sq8_dist, id) — the compressed-domain refinement between ADC
        shortlist and exact rerank. Ids with no SQ8 row drop here, the
        same place the exact path's isin mask drops ids with no
        vectors row."""
        from vector_search_go_spark.operators.sq8 import sq8_dists_np

        uid, C = self._sq8_rows(slot_ids)
        if uid is None:
            return np.empty(0, dtype=np.int64)
        mins, scales = self._sq8_stats
        return uid[topn(uid, sq8_dists_np(q, mins, scales, C), keep)]

    def _require_sq8(self) -> None:
        if self._sq8_stats is None:
            raise ValueError(
                f"store at {self.path!r} has no SQ8 rerank tier "
                "(vectors_sq8/sq8_stats) — build with ivfpq_save("
                "sq8=True) or run pq.sq8_augment_store"
            )

    def search(
        self,
        qvec,
        k: int = 10,
        nprobe: int = 4,
        shortlist: int | None = None,
        query_id: int = 0,
        rerank: str = "exact",
        sq8_keep: int | None = None,
    ) -> pd.DataFrame:
        """``rerank='sq8'`` (VERDICT r10 item 4): two-stage refinement —
        the ADC top-``shortlist`` is scored against the store's SQ8
        tier first and only the top-``sq8_keep`` (default: the
        pq_shortlist floor) unique ids pay the exact float fetch. With
        sq8_keep >= shortlist the sq8 stage keeps everything, so the
        result is identical to rerank='exact' (the parity pin); with a
        large measured shortlist and a floor-sized keep it trades the
        bulk of the rerank IO for 8x-cheaper compressed reads. A
        one-query search_many."""
        return self.search_many(
            [list(qvec)], k=k, nprobe=nprobe, shortlist=shortlist,
            query_ids=[query_id], rerank=rerank, sq8_keep=sq8_keep,
        )

    @_swap_retry
    def search_many(
        self,
        Q,
        k: int = 10,
        nprobe: int = 4,
        shortlist: int | None = None,
        query_ids=None,
        rerank: str = "exact",
        sq8_keep: int | None = None,
    ) -> pd.DataFrame:
        """Point lookups. Two batch amortizations, neither able to
        change a query's rows: each distinct probed cell's (ids, codes)
        decode is shared across the batch (_shortlists), and the rerank
        reads the UNION of the batch's shortlist ids in one pass
        (_union_dists)."""
        from vector_search_go_spark.operators.pq import (
            resolve_shortlist,
            resolve_sq8_keep,
        )

        if rerank not in ("exact", "sq8"):
            raise ValueError(f"unknown rerank mode {rerank!r}")
        if rerank == "sq8":
            self._require_sq8()
        shortlist = resolve_shortlist(k, shortlist, self._rec_shortlist)
        Q, query_ids = _batch_queries(Q, query_ids)
        if len(Q) == 0:
            return _result_frame([], [], k, 0)
        keep = resolve_sq8_keep(k, sq8_keep)
        want = []
        for q, got in zip(Q, self._shortlists(Q, nprobe, shortlist)):
            if got is None:
                want.append(np.empty(0, dtype=np.int64))
            elif rerank == "sq8":
                want.append(self._sq8_select(q, got[0], keep))
            else:
                want.append(got[0])
        qpos, rid, dist = self._union_dists(Q, want)
        bounds = np.searchsorted(qpos, np.arange(len(Q) + 1))
        return _concat(
            _result_frame(
                rid[bounds[j] : bounds[j + 1]],
                dist[bounds[j] : bounds[j + 1]],
                k, int(qid),
            )
            for j, qid in enumerate(query_ids)
        )

    # -- sharded legs (serve/sharded.py) ------------------------------
    #
    # Exact-rerank protocol: each shard returns its LOCAL ADC
    # top-``shortlist`` slots with their exact distances
    # (shard_candidates_many); the router merges by (adc, id).
    #
    # SQ8 protocol: the exact leg fetches `shortlist` float rows PER
    # SHARD per query — at the measured exact-set budgets that is the
    # whole serving latency. So it is two-phase: phase 1 returns ADC +
    # SQ8 scores only (no float IO); the ROUTER selects the global ADC
    # top-L, then the global sq8-top-K' by (sq8, id); phase 2
    # (fetch_dists_many) reads floats for just those K' ids across ALL
    # shards combined. Per-shard sq8 truncation would NOT be
    # selection-monotone (a shard-local ADC top-L member outside the
    # GLOBAL top-L can displace a global keeper from the shard's sq8
    # top-K'), hence the second round trip.
    #
    # Every leg is a batch call; a single lookup sends a batch of one.

    @_swap_retry
    def shard_candidates_many(
        self,
        Q,
        shortlist: int,
        nprobe: int = 4,
        query_ids=None,
    ) -> pd.DataFrame:
        """The per-shard leg of the sharded IVFADC composition: per
        query, this store's LOCAL ADC top-``shortlist`` by (adc, id),
        each row carrying BOTH its ADC score and its exact rerank
        distance -> (query_id, id, adc, dist, vmult). Cell decodes are
        shared across the batch and the rerank vectors come from one
        union read.

        The router merges these by (adc, id), keeps the GLOBAL
        top-``shortlist``, and ranks those by (dist, id) — bit-identical
        to the unsharded search because (a) every member of the global
        ADC top-L is, within its own shard, in that shard's top-L
        (selection monotone), (b) ADC floats are comparable across
        shards (identical codebook => identical LUT => identical fold),
        and (c) exact distances are per-row independent, so reranking a
        SUPERSET shard-side changes no returned value. ``dist`` is NaN
        for an id whose vectors row is missing — the router drops those
        AFTER the global shortlist selection, exactly where the
        unsharded search's isin mask drops them. ``vmult`` carries the
        id's VECTORS-table row count: the unsharded output multiplicity
        is the vectors one, while shortlist slots are CODES-row
        multiplicity — at-least-once streaming replays or a
        one-component dedup compaction can make these differ."""
        Q, query_ids = _batch_queries(Q, query_ids)
        slots = list(self._shortlists(Q, nprobe, shortlist))
        qpos, rid, dist = self._union_dists(
            Q, [np.empty(0, dtype=np.int64) if s is None else s[0] for s in slots]
        )
        bounds = np.searchsorted(qpos, np.arange(len(Q) + 1))
        parts = []
        for j, s in enumerate(slots):
            if s is None:
                continue
            sids, sadc = s
            # this query's rows are id-sorted: one dist per id (replay
            # duplicates carry identical vecs) and its row count
            r_ids = rid[bounds[j] : bounds[j + 1]]
            uid, first, count = np.unique(
                r_ids, return_index=True, return_counts=True
            )
            d = np.full(len(sids), np.nan)
            vmult = np.zeros(len(sids), dtype=np.int64)
            if len(uid):
                pos = np.minimum(np.searchsorted(uid, sids), len(uid) - 1)
                hit = uid[pos] == sids
                d[hit] = dist[bounds[j] + first[pos[hit]]]
                vmult[hit] = count[pos[hit]]
            parts.append((j, sids, sadc, d, vmult))
        return _slot_frame(
            query_ids, parts,
            {"adc": np.float64, "dist": np.float64, "vmult": np.int64},
        )

    @_swap_retry
    def shard_candidates_sq8_many(
        self,
        Q,
        shortlist: int,
        nprobe: int = 4,
        query_ids=None,
    ) -> pd.DataFrame:
        """Phase-1 leg: per query, this store's local ADC
        top-``shortlist`` slots as (query_id, id, adc, sq8) — sq8 is
        NaN for an id with no SQ8 row (the router drops those exactly
        where the unsharded search drops them). No float vector IO;
        cell decodes are shared across the batch, and the sq8 code
        fetch is per query over pinned arrays or pruned row groups."""
        self._require_sq8()
        Q, query_ids = _batch_queries(Q, query_ids)
        parts = [
            (j, s[0], s[1], self._sq8_dists(Q[j], s[0]))
            for j, s in enumerate(self._shortlists(Q, nprobe, shortlist))
            if s is not None
        ]
        return _slot_frame(
            query_ids, parts, {"adc": np.float64, "sq8": np.float64}
        )

    @_swap_retry
    def fetch_dists_many(self, Q, ids_per_query, query_ids=None) -> pd.DataFrame:
        """Phase-2 leg: exact (query_id, id, dist) rows, one per vectors
        row whose id is in that query's ``ids_per_query`` entry
        (multiplicity preserved), from one union read, as one frame."""
        Q, query_ids = _batch_queries(Q, query_ids)
        qpos, rid, dist = self._union_dists(Q, ids_per_query)
        return pd.DataFrame(
            {
                "query_id": np.asarray(query_ids, dtype=np.int64)[qpos],
                "id": rid,
                "dist": dist,
            }
        )


class LocalScanReader:
    """Point lookups over a saved SCAN store (operators.exact_knn.
    scan_save layout: vectors + store_meta) — the serving tier for
    corpora where the measured advisor says DON'T index (the SCALE.md
    angular probes; reference anchor: NNMock's full-scan Search,
    annbench/annbench.go:56-125): an exact full scan per query,
    two-stage scored over the preloaded matrix.

    Always in-memory: a scan touches every row by definition, so a
    lazy mode would re-decode the whole table on every query. The
    memory contract is the corpus shard itself (n x dims float64 —
    512 MB at 1M x 64); past RAM, split the store across readers (the
    same fleet shape as the bucket readers, minus the router's hash
    step — every reader scores its shard, the router merges top-k,
    which is exactly the selection-monotone per-partition top-k
    argument the Spark exact path relies on).

    Bit-identical to exact_knn_join on the same corpus (the engine's
    backend='exact' batch path): the same two-stage scorer
    (functions.metrics.seq_nearest), same (dist, id) tie-break, same
    threshold semantics (pinned in tests/test_serve_scan.py)."""

    def __init__(self, path: str, metric: str | None = None):
        import pyarrow.parquet as pq

        self._ctor = dict(path=path, metric=metric)
        meta = _read_store_meta(path)
        family = meta.get("family")
        if family not in (None, "scan"):
            raise ValueError(
                f"store at {path!r} is a {family!r} store, not a scan "
                "store — use the matching reader"
            )
        saved = meta.get("metric")
        if metric is None:
            if saved is None:
                raise ValueError(
                    f"store at {path!r} has no persisted metric "
                    "(legacy / hand-built layout): pass metric= explicitly"
                )
            metric = saved
        elif saved is not None and saved != metric:
            raise ValueError(
                f"store at {path!r} was saved with metric={saved!r}, "
                f"incompatible with metric={metric!r}"
            )
        self.path = path
        self.metric = metric
        tbl = pq.read_table(os.path.join(path, "vectors"), columns=["id", "vec"])
        if tbl.num_rows == 0:
            raise ValueError(f"scan store at {path!r} holds no vectors")
        dims = meta.get("dims") or len(tbl.column("vec")[0])
        self.dims = int(dims)
        mat = list_column_matrix(tbl, "vec", self.dims)
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        ids, mat = drop_tombstoned(load_tombstone_array(path), ids, mat)
        if len(ids) == 0:
            raise ValueError(
                f"scan store at {path!r} has every row tombstoned"
            )
        if np.issubdtype(ids.dtype, np.number):
            # id-sorted matrix: ties in dist resolve by id, and a
            # sorted id axis keeps _result_frame's lexsort stable
            # against the Spark path's (dist, id) ordering for free
            order = np.argsort(ids, kind="stable")
            self.ids = ids[order]
            self.mat = np.ascontiguousarray(mat[order])
        else:
            self.ids = ids
            self.mat = mat
        self._norms2 = np.einsum("ij,ij->i", self.mat, self.mat)

    def __len__(self) -> int:
        return len(self.ids)

    def search(
        self,
        qvec,
        k: int = 10,
        threshold: float | None = None,
        query_id: int = 0,
    ) -> pd.DataFrame:
        """One lookup: a one-query ``search_many``."""
        return self.search_many(
            [list(qvec)], k=k, threshold=threshold, query_ids=[query_id]
        )

    @_swap_retry
    def search_many(
        self,
        Q,
        k: int = 10,
        threshold: float | None = None,
        query_ids=None,
    ) -> pd.DataFrame:
        """Exact lookups, one scan per query. The per-query cost is the
        scan itself (one BLAS matvec over the shard), so batching buys
        allocator locality, not amortized model work."""
        Q, query_ids = _batch_queries(Q, query_ids)
        return _concat(
            _nearest_frame(
                self.metric, Q[i], self.ids, self.mat, k, threshold,
                int(qid), self._norms2,
            )
            for i, qid in enumerate(query_ids)
        )


__all__ = [
    "LocalLshReader",
    "LocalIvfReader",
    "LocalIvfPqReader",
    "LocalScanReader",
]
