"""Parquet row-group machinery for the local serving readers.

The generic ``pyarrow.dataset`` filter path evaluates the probe
expression against every fragment per query — at 1M x 40 trees that is
a 40-branch OR over 40 fragments and measured >1 s/query. Serving wants
the classic index shape instead: load footer METADATA once, then per
query binary-search row-group [min, max] statistics and decode only the
groups that can contain the probed keys. The stores are written
key-sorted with small row groups (LshIndex.save / ivfpq_save) precisely
so these stats are selective.

``RowGroupIndex``   one sort-keyed parquet file set (a tree's bucket
                    dir, the id-sorted vectors table): key -> matching
                    row groups -> one filtered numpy read.
``HivePartIndex``   partition-value -> files map for hive layouts
                    (cells/cell=N/) where the partition IS the probe
                    key and files are read whole.

Both cache ``ParquetFile`` handles; reads release the GIL, so the
per-query fan-out across trees runs in a small thread pool.
"""

from __future__ import annotations

import glob
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np


def list_column_matrix(tbl, col: str, dims: int) -> np.ndarray:
    """list<float/double> column -> (n, dims) float64 matrix without
    per-element Python (to_pylist on a 1M x 64 column costs ~a minute;
    this is a flatten + reshape on the Arrow buffers)."""
    arr = tbl.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if len(flat) != len(arr) * dims:
        # ragged lists — fall back to the slow exact path
        return np.asarray(arr.to_pylist(), dtype=np.float64)
    return flat.reshape(len(arr), dims)


def binary_column_u8_matrix(tbl, col: str, dims: int) -> np.ndarray:
    """binary column of fixed ``dims``-byte payloads -> (n, dims) uint8
    matrix via the Arrow value buffer (one memcpy, no per-row Python) —
    the SQ8 codes decode path. Ragged payloads fall back exactly."""
    arr = tbl.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    try:
        buf = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
        lo = int(offs[arr.offset])
        hi = int(offs[arr.offset + len(arr)])
        if hi - lo == len(arr) * dims and np.all(
            np.diff(offs[arr.offset : arr.offset + len(arr) + 1]) == dims
        ):
            return buf[lo:hi].reshape(len(arr), dims)
    except (TypeError, IndexError, ValueError):
        pass
    return np.asarray(
        [np.frombuffer(b, dtype=np.uint8) for b in arr.to_pylist()],
        dtype=np.uint8,
    )


def list_column_int_matrix(tbl, col: str, dims: int) -> np.ndarray:
    arr = tbl.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if len(flat) != len(arr) * dims:
        return np.asarray(arr.to_pylist(), dtype=np.int64)
    return flat.reshape(len(arr), dims)


class RowGroupIndex:
    """Row-group stats index over the parquet files of one directory,
    keyed on a (numeric) sort column. Appended/unsorted files degrade
    gracefully: their group ranges overlap, so more groups match — the
    read stays correct, just less selective (compaction restores
    selectivity, streaming/ingest.py)."""

    def __init__(self, paths: list[str], key_col: str):
        import pyarrow.parquet as pq

        self.key_col = key_col
        self._files = []
        self._groups = []  # (file_idx, rg_idx, min, max)
        self._paths = sorted(paths)
        self._pool: ThreadPoolExecutor | None = None
        self._tls = None  # per-thread ParquetFile handles (lazy)
        for fi, p in enumerate(self._paths):
            pf = pq.ParquetFile(p)
            self._files.append(pf)
            ki = pf.schema_arrow.get_field_index(key_col)
            for rg in range(pf.metadata.num_row_groups):
                col = pf.metadata.row_group(rg).column(ki)
                st = col.statistics
                if st is None or not st.has_min_max:
                    self._groups.append((fi, rg, None, None))
                else:
                    self._groups.append((fi, rg, st.min, st.max))
        # Numeric stats vectorize: one searchsorted over the sorted key
        # set replaces the per-group per-key Python comparisons (the
        # IVFPQ shortlist probes hundreds of keys against thousands of
        # groups — O(G x K) in Python was the serving hot path's cost).
        stat = [g for g in self._groups if g[2] is not None]
        self._numeric = all(
            isinstance(g[2], (int, np.integer)) for g in stat
        ) and bool(stat)
        if self._numeric:
            self._s_fi = np.array([g[0] for g in stat], dtype=np.int64)
            self._s_rg = np.array([g[1] for g in stat], dtype=np.int64)
            self._s_lo = np.array([g[2] for g in stat], dtype=np.int64)
            self._s_hi = np.array([g[3] for g in stat], dtype=np.int64)
            self._nostat = [g for g in self._groups if g[2] is None]

    def matching_groups(self, keys) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        if self._numeric:
            ks = np.asarray(sorted(int(k) for k in keys), dtype=np.int64)
            if len(ks):
                # group [lo, hi] admits a key iff the smallest key >= lo
                # exists and is <= hi
                pos = np.searchsorted(ks, self._s_lo, side="left")
                hit = pos < len(ks)
                hit[hit] = ks[pos[hit]] <= self._s_hi[hit]
                for fi, rg in zip(self._s_fi[hit], self._s_rg[hit]):
                    out.setdefault(int(fi), []).append(int(rg))
            for fi, rg, _lo, _hi in self._nostat:
                out.setdefault(fi, []).append(rg)
            for rgs in out.values():
                rgs.sort()
            return out
        for fi, rg, lo, hi in self._groups:
            if lo is None or any(lo <= k <= hi for k in keys):
                out.setdefault(fi, []).append(rg)
        return out

    # Above this many matched row groups, the read fans out on a thread
    # pool (parquet decode releases the GIL): a BATCHED rerank's union
    # shortlist matches thousands of scattered groups, and decoding them
    # serially was 70% of the batch path's wall time (measured 670 ->
    # 126 ms for a 3.6k-group read at 16 threads on the 2M profiling
    # store). Serial reads decode on the calling thread (no Arrow CPU
    # pool: callers such as ShardedReader already run reads side by
    # side). Crossover measured on the serve_ingest_100k benchmark's
    # vectors table (124-row groups, 4 cores), serial vs parallel ms:
    # ONE reader alone turns parallel-faster between 16 and 32 groups
    # (16: 1.6 vs 2.9; 32: 3.5 vs 3.1; 64: 6.9 vs 4.8; 128: 13.2 vs
    # 7.1), while TWO shard readers reading at once stay serial-faster
    # through 128 groups (48: 5.9 vs 9.0; 64: 7.8 vs 10.4; 128: 14.6 vs
    # 16.5). 64 keeps sharded point reads (~47 groups per shard)
    # serial and still fans out batch reads.
    _PARALLEL_MIN_GROUPS = 64
    _READ_WORKERS = 16

    def _read_serial(self, mg: dict[int, list[int]], columns: list[str]):
        return [
            self._files[fi].read_row_groups(rgs, columns=columns, use_threads=False)
            for fi, rgs in mg.items()
        ]

    def _read_parallel(self, mg: dict[int, list[int]], columns: list[str]):
        """Chunked fan-out with PER-THREAD ParquetFile handles — Arrow's
        reader is not documented thread-safe on one handle, and a fresh
        footer parse per handle is ~7 ms paid once per (thread, file).
        Task order is deterministic (file order, group order within),
        so the concatenated table is row-identical to the serial read."""
        import threading

        import pyarrow.parquet as pq

        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=self._READ_WORKERS)
            self._tls = threading.local()

        tls = self._tls

        def task(kv):
            fi, rgs = kv
            cache = getattr(tls, "pf", None)
            if cache is None:
                cache = tls.pf = {}
            pf = cache.get(fi)
            if pf is None:
                pf = cache[fi] = pq.ParquetFile(self._paths[fi])
            return pf.read_row_groups(rgs, columns=columns, use_threads=False)

        tasks = []
        for fi in sorted(mg):
            rgs = mg[fi]
            step = max(1, len(rgs) // self._READ_WORKERS + 1)
            for i in range(0, len(rgs), step):
                tasks.append((fi, rgs[i : i + step]))
        return list(self._pool.map(task, tasks))

    def read(self, keys, columns: list[str]):
        """Concatenated pyarrow table of all rows in row groups whose
        stats admit any of ``keys`` (caller filters exactly); None when
        no group can match. Row order is deterministic (file order,
        group order) on both the serial and parallel paths."""
        import pyarrow as pa

        mg = self.matching_groups(keys)
        n_rg = sum(len(v) for v in mg.values())
        if n_rg >= self._PARALLEL_MIN_GROUPS:
            parts = self._read_parallel(mg, columns)
        else:
            parts = self._read_serial(mg, columns)
        # promote_options: a saved file's columns are non-nullable while
        # streamed-append fragments are nullable — same values, different
        # arrow nullability flags; strict concat refuses the mix
        return (
            pa.concat_tables(parts, promote_options="permissive")
            if parts
            else None
        )


class HivePartIndex:
    """partition-value -> parquet files for a hive-partitioned store
    (``{root}/{col}=v/part-*.parquet``), listed once at init."""

    def __init__(self, root: str, col: str):
        self.col = col
        self._parts: dict[int, list[str]] = {}
        prefix = f"{col}="
        for d in os.listdir(root):
            if not d.startswith(prefix):
                continue
            v = int(d[len(prefix):])
            files = sorted(glob.glob(os.path.join(root, d, "*.parquet")))
            if files:
                self._parts[v] = files
        self._pf_cache: dict[str, object] = {}
        self._pool: ThreadPoolExecutor | None = None

    def values(self) -> list[int]:
        return sorted(self._parts)

    def _pf(self, path: str):
        import pyarrow.parquet as pq

        pf = self._pf_cache.get(path)
        if pf is None:
            pf = pq.ParquetFile(path)
            self._pf_cache[path] = pf
        return pf

    def read_value(self, value: int, columns: list[str]):
        """All rows of one partition value (None if absent — a missing
        bucket is normal, reference lsh/lsh.go:157-160)."""
        import pyarrow as pa

        files = self._parts.get(int(value))
        if not files:
            return None
        # Arrow's own pool decodes here, unlike RowGroupIndex point
        # reads: decoding on read_values_parallel's 8 threads instead
        # was no faster (a lazy LocalIvfReader lookup took 6.8 ms either
        # way at nprobe=8 on 100k x 64) and a preload_cells open on the
        # same store peaked 67 MB higher in RSS
        return pa.concat_tables(
            (self._pf(p).read(columns=columns) for p in files),
            promote_options="permissive",
        )

    def read_values_parallel(
        self, values, columns: list[str], max_workers: int = 8
    ) -> dict[int, object]:
        vals = [v for v in values if int(v) in self._parts]
        if not vals:
            return {}
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=max_workers)
        tbls = self._pool.map(lambda v: self.read_value(v, columns), vals)
        return dict(zip(vals, tbls))


class TreeBucketIndex:
    """Per-tree RowGroupIndex over an LSH bucket store
    (``buckets/tree=N/``, hash-sorted within files).

    ``preload=True`` is the reference's serving regime (its whole store
    is an in-process map, store/kv/store.go): each tree's (hash, id)
    pairs load once into hash-sorted numpy arrays and a probe is two
    searchsorted calls — no parquet decode on the query path. int64
    pairs cost 16 B/row, so a 1M x 40-tree store is ~640 MB — sized
    for a serving shard, with the stats-pruned lazy path as the
    fallback when the store outgrows reader RAM."""

    def __init__(self, root: str, preload: bool = False):
        self._trees: dict[int, RowGroupIndex] = {}
        self._mem: dict[int, tuple[np.ndarray, np.ndarray]] | None = (
            {} if preload else None
        )
        self._pool: ThreadPoolExecutor | None = None
        for d in sorted(os.listdir(root)):
            if not d.startswith("tree="):
                continue
            t = int(d.split("=", 1)[1])
            files = glob.glob(os.path.join(root, d, "*.parquet"))
            if files:
                self._trees[t] = RowGroupIndex(files, "hash")
        if preload:
            import pyarrow.parquet as pq

            for t in self._trees:
                tbl = pq.read_table(
                    sorted(glob.glob(os.path.join(root, f"tree={t}", "*.parquet"))),
                    columns=["hash", "id"],
                )
                h = tbl.column("hash").to_numpy(zero_copy_only=False)
                ids = tbl.column("id").to_numpy(zero_copy_only=False)
                order = np.argsort(h, kind="stable")
                self._mem[t] = (
                    np.ascontiguousarray(h[order]),
                    np.ascontiguousarray(ids[order]),
                )

    def probe(self, tree: int, hashes, max_workers_unused=None):
        """(hash, id) arrays for bucket members of ``tree`` whose hash
        is in ``hashes`` — in-memory searchsorted slices when preloaded,
        else stats-pruned row-group reads + exact numpy filter."""
        if self._mem is not None:
            mem = self._mem.get(int(tree))
            if mem is None:
                return None
            h_sorted, ids_sorted = mem
            hs = np.asarray(sorted(hashes), dtype=h_sorted.dtype)
            lo = np.searchsorted(h_sorted, hs, side="left")
            hi = np.searchsorted(h_sorted, hs, side="right")
            spans = [(a, b) for a, b in zip(lo, hi) if b > a]
            if not spans:
                return None
            h = np.concatenate([h_sorted[a:b] for a, b in spans])
            ids = np.concatenate([ids_sorted[a:b] for a, b in spans])
            return h, ids
        idx = self._trees.get(int(tree))
        if idx is None:
            return None
        tbl = idx.read(sorted(hashes), ["hash", "id"])
        if tbl is None or tbl.num_rows == 0:
            return None
        h = tbl.column("hash").to_numpy(zero_copy_only=False)
        mask = np.isin(h, np.asarray(sorted(hashes), dtype=np.int64))
        if not mask.any():
            return None
        ids = tbl.column("id").to_numpy(zero_copy_only=False)[mask]
        return h[mask], ids

    def probe_many(self, probes: dict[int, list], max_workers: int = 8):
        """{tree: hashes} -> {tree: (hash_arr, id_arr)}; parquet-backed
        probes fan out on a PERSISTENT thread pool (a fresh pool per
        query was ~15 ms of thread start/join overhead on the serving
        path), in-memory probes run inline."""
        items = [(t, hs) for t, hs in probes.items() if int(t) in self._trees]
        if not items:
            return {}
        if self._mem is not None:
            out = {}
            for t, hs in items:
                r = self.probe(t, hs)
                if r is not None:
                    out[t] = r
            return out
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=max_workers)
        res = self._pool.map(lambda th: (th[0], self.probe(th[0], th[1])), items)
        return {t: r for t, r in res if r is not None}
