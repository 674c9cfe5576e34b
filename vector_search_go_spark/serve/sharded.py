"""Sharded serving composition (VERDICT r5 missing item 1).

A single LocalReader is bounded by one process's RAM/disk (the 100 TB
shape in serve.local_reader's module docstring: "one reader process per
store shard behind a router"). This module is that router, plus the
shard layout the builders write:

  {path}/shards_meta     one JSON line {family, n_shards, metric?}
  {path}/shard=K/        a COMPLETE single-store layout (LshIndex.save /
                         ivf_save / scan_save) holding the id-subset
                         pmod(xxhash64(id), n_shards) == K
  {path}/hot_buckets     (LSH only) (tree, hash, sz) rows for buckets
                         whose WHOLE-store size exceeds
                         config.max_bucket_size — the pathological tail
                         only, the same broadcast-sized set
                         lsh.search.bound_hot_buckets joins.

``ShardedReader`` holds one LocalReader per shard and merges per-shard
top-k. Correctness of the merge is the selection-monotone argument the
Arrow kernels' per-batch local top-k already rely on
(operators/argmin.py): every row of the global top-k by (dist, id) is,
within its own shard, among that shard's top-k — so the global top-k is
a subset of the union of per-shard top-ks, and re-ranking the union by
(dist, id) reproduces it exactly. Thresholds commute with the partition
(each shard applies the same filter), and LSH hot-bucket thinning stays
bit-identical because every shard evaluates the survivor predicate with
the WHOLE-store keep_mod from ``hot_buckets`` (see
LocalLshReader.global_hot_buckets) — the per-id rule is deterministic
given (tree, hash, keep_mod), so the union of shard survivors IS the
unsharded survivor set. Parity is pinned in tests/test_sharded.py.

Reference anchor: the Store interface exists to make storage pluggable
(store/store.go:12-18); this is the pluggable composition over it.

Scale shape: shards fan out on a thread pool (the numpy/pyarrow work
releases the GIL), so wall-clock per query tracks ONE shard's latency
plus a k*n_shards-row merge — the SCALE.md sharded row measures this
flat against the single-shard row. In a real fleet each shard reader
is its own process/host and this class becomes the stateless router in
front of them; nothing in the merge depends on shard-local state.
"""

from __future__ import annotations

import glob
import json
import os
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor

import numpy as np
import pandas as pd

from vector_search_go_spark.io import meta_files, parse_meta_files
from vector_search_go_spark.operators.argmin import topn
from vector_search_go_spark.serve.local_reader import (
    LocalIvfPqReader,
    LocalIvfReader,
    LocalLshReader,
    LocalScanReader,
    _batch_queries,
    _concat,
    _read_store_meta,
    _result_frame,
)

_READER_CLS = {
    "lsh": LocalLshReader,
    "ivf": LocalIvfReader,
    "scan": LocalScanReader,
    "ivfpq": LocalIvfPqReader,
}

# families whose shard readers take a metric= ctor kwarg (ivfpq stores
# are l2-only by construction — LocalIvfPqReader has no metric knob)
_METRIC_FAMILIES = ("lsh", "ivf", "scan")


def _segments(frames: list[pd.DataFrame], cols, order):
    """The union of per-shard frames as one array per column of
    ``cols``, plus, per query id of ``order``, the indices of its rows
    in shard order then row order (what a groupby sub-frame holds).
    One stable argsort and two searchsorted calls route every query —
    the router's merges never build per-query frames to find rows."""
    def cat(c):
        if not frames:
            return np.empty(0, dtype=np.int64)
        return np.concatenate([f[c].to_numpy() for f in frames])

    q = cat("query_id")
    o = np.argsort(q, kind="stable")
    keys = np.asarray([int(x) for x in order], dtype=np.int64)
    lo = np.searchsorted(q[o], keys, side="left")
    hi = np.searchsorted(q[o], keys, side="right")
    return {c: cat(c) for c in cols}, [o[a:b] for a, b in zip(lo, hi)]


# ---- process-per-shard worker plumbing (ShardedReader processes=True).
# One single-worker spawn process per shard, each holding ITS reader as
# a module global — the miniature of the documented fleet shape (one
# reader process per store shard behind a router). Module-level so the
# spawn pickler can import them.
_WORKER_READER = None


def _shard_worker_init(family: str, shard_path: str, reader_kwargs: dict):
    global _WORKER_READER
    _WORKER_READER = _READER_CLS[family](shard_path, **reader_kwargs)


def _shard_worker_call(name: str, args: tuple, kwargs: dict):
    """Run reader method ``name`` in this shard's worker process."""
    return getattr(_WORKER_READER, name)(*args, **kwargs)


def shard_expr(n_shards: int):
    """The builders' shard assignment column: pmod(xxhash64(id), n) —
    deterministic, balanced, and re-derivable from the id alone (the
    same reasoning as the hot-bucket survivor rule's hash)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("id"), F.lit(int(n_shards)))


def check_shard_population(df, n_shards: int, what: str) -> None:
    """Refuse a sharded save that would write an EMPTY shard — an empty
    single-store layout is not openable (scan readers reject empty
    vector tables, hive cell/bucket dirs never materialize), so the
    failure must happen BEFORE any shard directory is written, not
    midway through shard k. One aggregation pass over the input."""
    counts = {
        int(r["s"]): r["count"]
        for r in df.groupBy(shard_expr(n_shards).alias("s")).count().collect()
    }
    empty = [k for k in range(n_shards) if counts.get(k, 0) == 0]
    if empty:
        raise ValueError(
            f"shards={n_shards} would leave shard(s) {empty} empty for "
            f"this {what} ({sum(counts.values())} rows total) — use "
            "fewer shards"
        )


def write_shards_meta(
    spark, path: str, family: str, n_shards: int, metric: str | None = None
) -> None:
    meta = {"family": family, "n_shards": int(n_shards)}
    if metric is not None:
        meta["metric"] = metric
    spark.createDataFrame(
        [(json.dumps(meta),)], "meta_json string"
    ).coalesce(1).write.mode("overwrite").json(f"{path}/shards_meta")


def read_shards_meta(path: str) -> dict | None:
    """None when ``path`` is not a sharded layout; parse errors raise
    (absence != unreadable — the store_metric contract)."""
    return parse_meta_files(meta_files(path, "shards_meta"))


def union_shard_component(spark, path: str, n_shards: int, sub: str):
    """Union of one store component across every shard of a sharded
    layout — the whole-store view sharded staleness and rebuilds read
    (each shard holds a disjoint id-subset, so the union IS the store).
    Id-carrying components mask each shard's tombstones (streaming.
    delete): every union consumer — staleness masses, rebuild corpora,
    hot_buckets refresh, the batch engine's loaded view — must see the
    LIVE store, exactly what a re-save without the ids would hold."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from vector_search_go_spark.streaming.delete import mask_tombstones

    parts = []
    for k in range(int(n_shards)):
        df = spark.read.parquet(f"{path}/shard={k}/{sub}")
        if "id" in df.columns:
            df = mask_tombstones(spark, f"{path}/shard={k}", df)
        parts.append(df)
    return reduce(DataFrame.unionByName, parts)


def refresh_hot_buckets(spark, path: str) -> int:
    """Recompute ``{path}/hot_buckets`` from the UNION of the shard
    bucket tables. Required after ANY operation that changes global
    physical bucket sizes on a sharded LSH layout — streaming appends,
    dedup compaction — because survivor-rule parity hangs on WHOLE-store
    keep_mods (see LocalLshReader.global_hot_buckets); a rebuild
    (LshIndex.save(shards=N)) rewrites the table itself. Returns the
    number of over-cap buckets recorded (0 also when the store's config
    sets no cap — then no thinning exists to keep in parity)."""
    import pyarrow.parquet as papq

    from pyspark.sql import functions as F

    meta = read_shards_meta(path)
    if meta is None or meta.get("family") != "lsh":
        raise ValueError(
            f"{path!r} is not a sharded LSH layout — hot_buckets only "
            "exist for the LSH family's survivor rule"
        )
    # the cap comes from the (shared) model config; shard=0 is
    # authoritative because every shard was saved from the same index
    from vector_search_go_spark.lsh.index import read_config

    cap = read_config(os.path.join(path, "shard=0")).max_bucket_size
    if cap is None:
        return 0
    hot = (
        union_shard_component(spark, path, meta["n_shards"], "buckets")
        .groupBy("tree", "hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > int(cap))
    )
    # two-rename swap, same pattern as compact_bucket_store (ADVICE r7:
    # a mode('overwrite') delete-then-write let a reader constructed
    # mid-refresh observe an empty/partial hot_buckets dir and silently
    # lose survivor-rule parity for its lifetime — _load_hot_buckets
    # has no _swap_retry to heal a wrong-but-readable listing)
    import shutil

    target = os.path.join(path, "hot_buckets")
    tmp = target + ".refresh-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    hot.coalesce(1).write.mode("overwrite").parquet(tmp)
    old = target + ".refresh-old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target):
        os.replace(target, old)
    os.replace(tmp, target)
    shutil.rmtree(old, ignore_errors=True)
    spark.catalog.refreshByPath(target)
    files = glob.glob(os.path.join(target, "*.parquet"))
    return sum(papq.read_metadata(f).num_rows for f in files)


def _load_hot_buckets(path: str) -> dict:
    """{(tree, hash): whole-store sz} from ``{path}/hot_buckets``; {}
    when the layout has none (no cap configured, or no bucket over
    it)."""
    import pyarrow.parquet as pq

    root = os.path.join(path, "hot_buckets")
    files = glob.glob(os.path.join(root, "*.parquet"))
    if not files:
        return {}
    tbl = pq.read_table(files)
    return {
        (int(t), int(h)): int(s)
        for t, h, s in zip(
            tbl.column("tree").to_pylist(),
            tbl.column("hash").to_pylist(),
            tbl.column("sz").to_pylist(),
        )
    }


class ShardedReader:
    """N LocalReaders over ``{path}/shard=K`` plus the top-k merge.

    Constructor kwargs are forwarded to every shard reader (metric,
    preload flags — same names as the single-store reader of the
    store's family). ivf/scan layouts fill metric from shards_meta;
    LSH requires metric= explicitly (search-time choice); ivfpq is
    l2-only like the store itself.

    IVFADC (family 'ivfpq', r6 VERDICT item 1) composes differently
    from the top-k families: each shard returns its LOCAL ADC
    top-shortlist WITH both the ADC score and the exact rerank
    distance (LocalIvfPqReader.shard_candidates_many), the router merges by
    (adc, id), keeps the GLOBAL top-shortlist, drops missing-vector
    rows, and ranks by (dist, id). Bit-identical to the unsharded
    reader because per-shard ADC top-L is selection-monotone (every
    global top-L member is in its own shard's top-L), ADC floats are
    comparable across shards (identical codebook => identical LUT =>
    identical subspace-ordered fold), and exact distances are per-row
    independent. This is the 100 TB store: raw vectors don't fit one
    reader, the 16x-compressed codes do per shard."""

    def __init__(
        self,
        path: str,
        max_workers: int = 8,
        processes: bool = False,
        stagger_init: bool = False,
        **reader_kwargs,
    ):
        """``stagger_init=True`` (processes mode) builds the shard
        readers one at a time instead of in parallel: preload-heavy
        readers peak at ~2-3x their steady RAM during construction
        (arrow table + sorted copy live together), and N shards paying
        that transient simultaneously can OOM a box whose steady
        footprint fits fine — at 100M x 64 x 10 shards the
        preload_vectors regime is ~65 GB steady but >130 GB under
        parallel init. Costs init wall time (serial), changes nothing
        else."""
        meta = read_shards_meta(path)
        if meta is None:
            raise FileNotFoundError(
                f"{path!r} has no shards_meta — not a sharded layout "
                "(single stores open with their family's LocalReader)"
            )
        self.path = path
        self.family = meta["family"]
        self.n_shards = int(meta["n_shards"])
        self._closed = False
        if (
            self.family in _METRIC_FAMILIES
            and "metric" not in reader_kwargs
            and meta.get("metric")
        ):
            reader_kwargs["metric"] = meta["metric"]
        cls = _READER_CLS.get(self.family)
        if cls is None:
            raise ValueError(
                f"family {self.family!r} has no sharded reader"
            )
        # sharded IVFADC: shortlist=None resolves from the LAYOUT-level
        # store_meta (written by the sharded maintenance probe), exactly
        # like the unsharded reader resolves from its own store_meta —
        # per-shard metas are bypassed because the router always passes
        # the resolved budget down explicitly.
        self._root_rec = (
            int(_read_store_meta(path).get("recommended_shortlist", 0))
            if self.family == "ivfpq"
            else 0
        )
        if self.family == "lsh":
            if "metric" not in reader_kwargs:
                raise ValueError(
                    "LSH sharded stores need metric= — the metric is a "
                    "SEARCH-time choice for LSH (reference Search takes "
                    "it per call, lsh/lsh.go:137), so the layout does "
                    "not persist one"
                )
            reader_kwargs.setdefault(
                "global_hot_buckets", _load_hot_buckets(path)
            )
        self._procs: list | None = None
        self._pool = None
        if processes:
            # one single-worker SPAWN process per shard, reader built in
            # the worker (never pickled; spawn avoids forking a
            # JVM-attached parent). This is the configuration the flat
            # ms/q claim holds in: thread fan-out serializes the
            # readers' Python-level probe work on the GIL (SCALE.md
            # sharded rows measure both), processes do not — in a real
            # fleet each worker is a host and this class is the router.
            import multiprocessing as mp

            ctx = mp.get_context("spawn")
            self._procs = []
            try:
                for k in range(self.n_shards):
                    pool = ProcessPoolExecutor(
                        max_workers=1,
                        mp_context=ctx,
                        initializer=_shard_worker_init,
                        initargs=(
                            self.family,
                            os.path.join(path, f"shard={k}"),
                            reader_kwargs,
                        ),
                    )
                    self._procs.append(pool)
                # force worker startup (initializer runs on first task)
                # so init cost lands here, not in the first query
                if stagger_init:
                    for p in self._procs:
                        p.submit(os.getpid).result()
                else:
                    for f in [p.submit(os.getpid) for p in self._procs]:
                        f.result()
            except BaseException:
                self.close()  # don't leak already-spawned shard workers
                raise
            self.readers = []
            return
        self.readers = [
            cls(os.path.join(path, f"shard={k}"), **reader_kwargs)
            for k in range(self.n_shards)
        ]
        self._pool = ThreadPoolExecutor(
            max_workers=min(max_workers, self.n_shards)
        )

    @staticmethod
    def _merge(frames: list[pd.DataFrame], k: int, order) -> pd.DataFrame:
        """Union of per-shard (query_id, id, dist, rn) results -> global
        top-k per query by (dist, id), rn reassigned, queries emitted in
        the CALLER's order (``order``) — row-for-row what the unsharded
        reader's frame looks like (a query with zero candidates in every
        shard contributes zero rows there too). Uses the same
        _result_frame tie-break as every reader."""
        a, segs = _segments(frames, ("id", "dist"), order)
        return _concat(
            _result_frame(a["id"][seg], a["dist"][seg], k, int(qid))
            for qid, seg in zip(order, segs)
            if len(seg)
        )

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError(
                "ShardedReader is closed — construct a new reader "
                "(close() shut down the shard fan-out executors)"
            )

    def _fan_out(self, name: str, calls) -> list[pd.DataFrame]:
        """Run shard reader method ``name`` once per ``(shard, args,
        kwargs)`` of ``calls`` — in the shard's worker process, or on
        the thread pool over the in-process readers — and return the
        frames in call order. Every shard round trip of the router goes
        through here: all shards for a lookup's first leg, the owner
        subset for the SQ8 fetch (_finish_sq8)."""
        if self._procs is not None:
            futs = [
                self._procs[s].submit(_shard_worker_call, name, args, kwargs)
                for s, args, kwargs in calls
            ]
            return [f.result() for f in futs]
        return list(
            self._pool.map(
                lambda c: getattr(self.readers[c[0]], name)(*c[1], **c[2]),
                calls,
            )
        )

    @staticmethod
    def _merge_ivfpq(
        frames: list[pd.DataFrame], k: int, shortlist: int, order
    ) -> pd.DataFrame:
        """Union of per-shard (query_id, id, adc, dist, vmult) SLOT rows
        -> per query: global ADC top-``shortlist`` slots by (adc, id),
        then emit each selected UNIQUE id with its vectors-table
        multiplicity, then top-k by (dist, id).

        This reproduces the unsharded reader's exact row set under
        every duplicate configuration: slots (codes rows) consume
        shortlist depth there too, but its OUTPUT rows are the isin
        mask over the vectors table — one row per vectors row whose id
        is shortlisted. vmult == 0 (no vectors row) drops the id in the
        same place the unsharded mask drops it. An id lives in exactly
        one shard (disjoint pmod split), so its slot rows and vmult are
        mutually consistent. Queries emit in the caller's order; a
        query with no candidates anywhere contributes zero rows."""
        a, segs = _segments(frames, ("id", "adc", "dist", "vmult"), order)
        out = []
        for qid, rows in zip(order, segs):
            sel = rows[
                LocalIvfPqReader._adc_topl(a["id"][rows], a["adc"][rows], shortlist)
            ]
            # first slot per unique id (a second SLOT of an id adds no
            # row); vmult == 0 (no vectors row) is the unsharded isin drop
            uid, first = np.unique(a["id"][sel], return_index=True)
            m = a["vmult"][sel][first]
            live = m > 0
            out.append(
                _result_frame(
                    np.repeat(uid[live], m[live]),
                    np.repeat(a["dist"][sel][first][live], m[live]),
                    k, int(qid),
                )
            )
        return _concat(out)

    @staticmethod
    def _sq8_keep_ids(
        frames: list[pd.DataFrame], shortlist: int, keep: int, order
    ) -> dict[int, list[int]]:
        """Router half of the SQ8 protocol's phase 1: union of per-shard
        (query_id, id, adc, sq8) slot rows -> per query the global ADC
        top-``shortlist`` slots by (adc, id), deduped to unique ids,
        NaN-sq8 ids dropped (no SQ8 row — the same place the unsharded
        _sq8_select drops them), then the top-``keep`` ids by
        (sq8, id). Bit-identical to the unsharded selection because
        every global ADC top-L slot is in its own shard's top-L
        (selection monotone) and sq8 floats are comparable across
        shards (one global stats row by the save contract)."""
        a, segs = _segments(frames, ("id", "adc", "sq8"), order)
        kept: dict[int, list[int]] = {}
        for qid, rows in zip(order, segs):
            sel = rows[
                LocalIvfPqReader._adc_topl(a["id"][rows], a["adc"][rows], shortlist)
            ]
            uid, first = np.unique(a["id"][sel], return_index=True)
            s8 = a["sq8"][sel][first]
            live = ~np.isnan(s8)
            ua, sa = uid[live], s8[live]
            kept[int(qid)] = np.sort(ua[topn(ua, sa, keep)]).tolist()
        return kept

    def _finish_sq8(
        self, phase1: list[pd.DataFrame], kept: dict, Q, qids, k: int
    ) -> pd.DataFrame:
        """Phase 2: exact distances for each query's kept ids, then
        top-k by (dist, id) per query in caller order.

        Owner routing: each kept id goes only to the shard(s) whose
        phase-1 frame (``phase1[s]``) listed it for that query, and a
        shard with no ids gets no call. Ids are disjoint across shards
        (the pmod split) and a kept id is in its own shard's local
        top-L (selection monotone), so its owner always listed it —
        the fetched rows, with vectors-table multiplicity, are exactly
        what asking every shard returns, without decoding row groups
        for ids a shard cannot hold."""
        calls = []  # (shard, (query rows, ids per routed query), kwargs)
        for s, f in enumerate(phase1):
            a, listed = _segments([f], ("id",), qids)
            rows, ids = [], []
            for j, (qid, seg) in enumerate(zip(qids, listed)):
                want = np.asarray(kept[qid], dtype=np.int64)
                own = want[np.isin(want, a["id"][seg])]
                if len(own):
                    rows.append(j)
                    ids.append(own.tolist())
            if rows:
                calls.append(
                    (s, (Q[rows], ids), {"query_ids": [qids[j] for j in rows]})
                )
        frames = self._fan_out("fetch_dists_many", calls)
        a, segs = _segments(frames, ("id", "dist"), qids)
        return _concat(
            _result_frame(a["id"][seg], a["dist"][seg], k, qid)
            for qid, seg in zip(qids, segs)
        )

    def search(self, qvec, k: int = 10, query_id: int = 0, **kwargs) -> pd.DataFrame:
        """One lookup: a one-query ``search_many``."""
        return self.search_many([list(qvec)], k=k, query_ids=[query_id], **kwargs)

    def search_many(
        self, Q, k: int = 10, query_ids=None, **kwargs
    ) -> pd.DataFrame:
        """Lookups over every shard, merged per query in the caller's
        ``query_ids`` order. ``kwargs`` are the family reader's search
        options; ivfpq takes nprobe, shortlist, rerank and sq8_keep and
        resolves the shortlist at the router (layout-level
        recommended_shortlist), so the global selection depth matches
        what one big store would use."""
        from vector_search_go_spark.operators.pq import (
            resolve_shortlist,
            resolve_sq8_keep,
        )

        self._check_open()
        # normalize exactly like the shard readers do, so the merge can
        # emit queries in the caller's order even when a query has no
        # rows in shard 0 (first-appearance order would reorder it)
        Q, qids = _batch_queries(Q, query_ids)
        qids = [int(q) for q in qids]
        if len(set(qids)) != len(qids):
            # the merge pools shard rows BY LABEL; two different
            # queries under one id would merge into one wrong top-k
            # (the same contract ivfpq_point_search_batch enforces)
            raise ValueError("duplicate query_id in batch")
        if self.family != "ivfpq":
            frames = self._fan_out(
                "search_many",
                [(s, (Q,), dict(k=k, query_ids=qids, **kwargs))
                 for s in range(self.n_shards)],
            )
            return self._merge(frames, k, qids)
        nprobe = int(kwargs.pop("nprobe", 4))
        shortlist = resolve_shortlist(k, kwargs.pop("shortlist", None), self._root_rec)
        rerank = str(kwargs.pop("rerank", "exact"))
        sq8_keep = kwargs.pop("sq8_keep", None)
        if kwargs:
            raise TypeError(f"unexpected ivfpq search kwargs {sorted(kwargs)}")
        legs = {"exact": "shard_candidates_many", "sq8": "shard_candidates_sq8_many"}
        if rerank not in legs:
            raise ValueError(f"unknown rerank mode {rerank!r}")
        leg = dict(shortlist=shortlist, nprobe=nprobe, query_ids=qids)
        frames = self._fan_out(
            legs[rerank], [(s, (Q,), leg) for s in range(self.n_shards)]
        )
        if rerank == "exact":
            return self._merge_ivfpq(frames, k, shortlist, qids)
        kept = self._sq8_keep_ids(
            frames, shortlist, resolve_sq8_keep(k, sq8_keep), qids
        )
        return self._finish_sq8(frames, kept, Q, qids, k)

    def close(self) -> None:
        """Shut down the fan-out executors (worker processes or the
        thread pool); idempotent. A closed reader raises a clear
        RuntimeError on search, not an opaque AttributeError."""
        self._closed = True
        if self._procs is not None:
            for p in self._procs:
                p.shutdown(wait=False, cancel_futures=True)
            self._procs = None
        if self._pool is not None:
            self._pool.shutdown(wait=False, cancel_futures=True)
            self._pool = None

    def __enter__(self) -> "ShardedReader":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __del__(self) -> None:
        # best-effort: a forgotten close() in processes=True mode would
        # otherwise leak one spawn process per shard until GC of the
        # pools themselves; interpreter-shutdown partial state is fine
        try:
            self.close()
        except Exception:
            pass


def open_reader(path: str, **reader_kwargs):
    """Open the right serving reader for WHATEVER store lives at
    ``path``: a ShardedReader for sharded layouts (shards_meta), else
    the family's LocalReader — family from store_meta when persisted,
    else from the layout's discriminating component (the engine.load
    rules: codebook -> ivfpq, cells -> ivf, buckets -> lsh, bare
    vectors -> scan). One entry point so operators that take "a saved
    store" (serving_batch_advisor, serving loops) need no family
    plumbing."""
    if read_shards_meta(path) is not None:
        return ShardedReader(path, **reader_kwargs)
    family = _read_store_meta(path).get("family")
    if family is None:
        if os.path.exists(os.path.join(path, "codebook")):
            family = "ivfpq"
        elif os.path.exists(os.path.join(path, "cells")):
            family = "ivf"
        elif os.path.exists(os.path.join(path, "buckets")):
            family = "lsh"
        elif os.path.exists(os.path.join(path, "vectors")):
            family = "scan"
        else:
            raise FileNotFoundError(
                f"{path!r} holds no recognizable store layout"
            )
    cls = _READER_CLS.get(family)
    if cls is None:
        raise ValueError(f"family {family!r} has no serving reader")
    return cls(path, **reader_kwargs)
