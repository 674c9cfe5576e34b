"""100M-row compressed-store receipt (VERDICT r7 item 4).

The 100 TB claim for the IVFADC family rests on the compressed store
sharding: codes are 16x fewer aggregate bytes than vectors, so shards
fit readers. 10M x 10 shards is measured (SCALE.md r7); this probe
builds ONE 100M x 64 store — codes ~0.8 GB, vectors ~51 GB on disk —
with sample-trained models, a sharded save, serving, and maintenance,
each phase a separate CLI run so serving can be measured on an idle box
after the multi-hour build.

Disk discipline: the corpus is NEVER landed. ``gen_corpus`` generates
vectors lazily inside Spark — mapInPandas over spark.range(n_blocks),
each 65,536-row block drawn from default_rng((seed, block)), so every
scan of the plan regenerates identical rows (the build's multiple
passes re-derive the corpus instead of caching 51 GB), and any id's
vector can be re-derived on the driver for queries. Models train on a
~1M strided sample (kmeans_fit sample_rows / an id-stride filter): the
100 TB posture — model quality saturates far below corpus size, and
driver build cost must be O(sample), never O(corpus).

Phases:
  --build  [n dims shards k_cells]   train models, save shard=0..N-1
  --reencode [path shards]           swap an existing store's codes to
                                     residual encoding in place
                                     (vectors untouched — minutes, not
                                     hours)
  --serve  [path n dims shards]      ms/q single + batch via the router
  --maintain [path]                  staleness verdict + shortlist probe

Run: python tools/probe_100m.py --build 100000000 64 10 1024
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

BLOCK = 65536
SEED = 7
DEFAULT_PATH = "/tmp/ivfpq100m/store"

# Corpus geometry knobs (VERDICT r9 item 2): the default 64-center /
# sigma=1.0 mix is the historical low-contrast worst case (within a
# ~1.5M-member cluster every neighbor sits at ~sqrt(2*dims) with tiny
# variance — no contrast for ANY ANN method). --centers/--sigma plant
# more, tighter clusters so true neighbors have contrast — the
# geometry real embedding corpora actually have. Both knobs flow into
# every regeneration site (gen_corpus, vec_of, ground truth) and into
# the gt cache key, so a sweep can never mix geometries.
N_CENTERS = 64
SIGMA = 1.0


_CENTERS_MEMO: dict[tuple, np.ndarray] = {}


def _centers(dims: int, n_centers: int | None = None) -> np.ndarray:
    # memoized: at --centers 131072 the matrix is ~67 MB and every
    # block regeneration would otherwise redraw it
    key = (int(dims), int(n_centers or N_CENTERS))
    hit = _CENTERS_MEMO.get(key)
    if hit is None:
        rng = np.random.default_rng(SEED)
        hit = rng.normal(size=(key[1], key[0])) * 2.0
        _CENTERS_MEMO[key] = hit
    return hit


def block_rows(
    block: int, n: int, dims: int,
    n_centers: int | None = None, sigma: float | None = None,
) -> np.ndarray:
    """Rows [block*BLOCK, min(n, (block+1)*BLOCK)) of the corpus —
    deterministic per (SEED, block, n_centers, sigma), so workers and
    the driver derive identical vectors without any materialized
    table. Geometry params default to the module globals, but every
    EXECUTOR-side closure passes them explicitly — the function is
    pickled by reference, so a re-imported module would otherwise
    silently reset CLI-set globals to the defaults."""
    n_centers = N_CENTERS if n_centers is None else int(n_centers)
    sigma = SIGMA if sigma is None else float(sigma)
    lo = block * BLOCK
    hi = min(n, lo + BLOCK)
    rng = np.random.default_rng((SEED, block))
    centers = _centers(dims, n_centers)
    assign = rng.integers(0, len(centers), size=hi - lo)
    return centers[assign] + sigma * rng.normal(size=(hi - lo, dims))


def vec_of(i: int, n: int, dims: int) -> np.ndarray:
    b = i // BLOCK
    return block_rows(b, n, dims)[i - b * BLOCK]


def gen_corpus(spark, n: int, dims: int):
    """Lazy (id, vec) DataFrame of the whole corpus. Every action
    regenerates — generation is a few seconds of numpy per full pass,
    which is the trade that keeps 51 GB of corpus off the disk the
    store itself needs."""
    import pandas as pd

    n_blocks = (n + BLOCK - 1) // BLOCK
    nc, sg = N_CENTERS, SIGMA  # capture for the executor-side closure

    def emit(batches):
        for pdf in batches:
            for b in pdf["id"].tolist():
                X = block_rows(int(b), n, dims, nc, sg)
                lo = int(b) * BLOCK
                yield pd.DataFrame(
                    {
                        "id": np.arange(lo, lo + len(X), dtype=np.int64),
                        "vec": list(X),
                    }
                )

    return spark.range(0, n_blocks, 1, 64).mapInPandas(
        emit, "id long, vec array<double>"
    )


def build(
    n: int = 100_000_000,
    dims: int = 64,
    shards: int = 10,
    k_cells: int | None = None,
    path: str = DEFAULT_PATH,
) -> None:
    """``k_cells=None`` sizes the coarse model by the documented rule
    (pq.default_k_cells: ~sqrt(n) rounded to a power of two, clamped to
    [256, 65536]) — ~10k cells at 100M instead of the pre-r10 frozen
    1024. Pass it explicitly to probe other points (the SCALE.md r10
    k_cells sweep measures 1k/4k/16k at 10M)."""
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.pq import default_k_cells

    if k_cells is None:
        k_cells = default_k_cells(n)

    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.operators.pq import (
        ivfpq_save,
        pq_codebook_residual,
    )
    from vector_search_go_spark.serve.sharded import (
        shard_expr,
        write_shards_meta,
    )
    from vector_search_go_spark.session import get_spark

    spark = get_spark("probe-100m-build")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = gen_corpus(spark, n, dims)

    t0 = time.time()
    # ~1M-row strided sample for both models (the sampled-Lloyd posture
    # the angular_ivf probe measured: quality saturates below corpus
    # size and driver cost must not scale with it). CACHED (round 9):
    # kmeans materializes centroids between iterations, so every Lloyd
    # pass re-scans the sample — uncached, each pass regenerated the
    # FULL corpus just to keep 1%, which made training O(iters x
    # corpus) instead of O(iters x sample). 1M x 64 doubles is ~0.5 GB,
    # comfortably cacheable; identical rows and math, just not
    # recomputed (r8's 1,185 s kmeans -> minutes).
    stride = max(1, n // 1_000_000)
    sample = corpus.filter(F.col("id") % stride == 0).cache()
    sample.count()  # materialize once
    cents = kmeans_fit(sample, k_cells, iters=3, dim=dims)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    t_kmeans = time.time() - t0
    print(f"# kmeans {k_cells} cells on ~1M sample: {t_kmeans:.0f} s", flush=True)

    t0 = time.time()
    # residual codebook (r10): trained on x - centroid(cell) of the
    # same cached sample — the encoding ivfpq_save defaults to
    cb = pq_codebook_residual(sample, cents)
    cb = spark.createDataFrame(cb.collect(), cb.schema)
    sample.unpersist()
    t_cb = time.time() - t0
    print(f"# pq codebook trained (residual): {t_cb:.0f} s", flush=True)

    # per-shard saves over the lazily-regenerated corpus: the library's
    # shards=N branch caches the corpus (right at 1-10M, impossible at
    # 51 GB) — here each save's two passes regenerate instead, and
    # shard population is non-empty by construction (contiguous ids x
    # pmod(xxhash64) split at n >> shards)
    sh = shard_expr(shards)
    t_shards = []
    for k in range(shards):
        t0 = time.time()
        ivfpq_save(
            spark, corpus.filter(sh == k), cents, cb,
            f"{path}/shard={k}", metric="l2",
        )
        t_shards.append(time.time() - t0)
        print(f"# shard {k}: {t_shards[-1]:.0f} s", flush=True)
    write_shards_meta(spark, path, "ivfpq", shards, metric="l2")
    total = t_kmeans + t_cb + sum(t_shards)
    import subprocess

    du = subprocess.run(
        ["du", "-sh", path], capture_output=True, text=True
    ).stdout.split()[0]
    print(
        f"| ivfpq 100M build | {n:,} x {dims}, {k_cells} cells, "
        f"x{shards} shards | kmeans {t_kmeans:.0f} s + codebook "
        f"{t_cb:.0f} s + saves {sum(t_shards):.0f} s = {total / 60:.0f} min "
        f"| {du} on disk |",
        flush=True,
    )


def reencode(
    path: str = DEFAULT_PATH,
    shards: int = 10,
    encoding: str = "residual",
    sample_rows: int = 1_000_000,
) -> None:
    """Re-encode an existing sharded IVFADC store's CODES in place
    (VERDICT r10 item 1) — the vectors table is the expensive part of
    the store (51 GB at 100M x 64; a full --build spends hours on its
    sorted range-partitioned writes) and it is encoding-INDEPENDENT:
    switching raw -> residual changes only the PQ codebook and the
    per-row codes (~0.8 GB total). So instead of a multi-hour rebuild:

      1. coarse centroids: reused from shard 0 (all shards share them
         by the sharded-save contract; cell assignment is unchanged,
         so build_stats' cell masses stay valid).
      2. residual codebook: trained once on a ~1M strided sample READ
         FROM THE STORE'S OWN vectors tables (no dependence on the
         corpus generator or its geometry knobs — works on any store).
      3. per shard: read vectors, re-assign cells (pure map, same
         centroids => identical assignment), residual-encode, write
         cells to a staging dir, atomic-swap over the old codes; then
         swap in the new codebook and MERGE encoding into the shard's
         own store_meta (never rewrite from scratch — the r10 lesson:
         dropping existing keys silently flips readers).

    Any stale layout-root recommended_shortlist is dropped (the ADC
    rank-error geometry it measured belongs to the old encoding);
    --maintain re-probes under the new codes. Interrupt-safe per
    shard: the swap is two renames, and a shard whose swap completed
    reads back as the target encoding while untouched shards keep
    serving the old one CONSISTENTLY per shard (each shard's LUTs come
    from its own meta via the router) — rerunning skips them."""
    import json as _json
    import shutil

    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.ann_ivf import assign_cells
    from vector_search_go_spark.operators.pq import (
        merge_store_meta,
        pq_codebook_residual,
        pq_codes_residual_udf,
        read_store_meta_any,
        store_encoding,
    )
    from vector_search_go_spark.session import get_spark

    if encoding != "residual":
        raise SystemExit("--reencode currently targets encoding='residual'")
    spark = get_spark("probe-100m-reencode")
    spark.sparkContext.setLogLevel("ERROR")

    todo = [
        k for k in range(shards)
        if store_encoding(spark, f"{path}/shard={k}") != encoding
    ]
    if not todo:
        print(f"# all {shards} shards already encoding={encoding}", flush=True)
        return
    print(f"# re-encoding shards {todo} -> {encoding}", flush=True)

    cents = spark.read.parquet(f"{path}/shard={todo[0]}/centroids")
    cents = spark.createDataFrame(cents.collect(), cents.schema)

    vec_paths = [f"{path}/shard={k}/vectors" for k in range(shards)]
    all_vecs = spark.read.parquet(*vec_paths)
    n = all_vecs.count()
    done = [k for k in range(shards) if k not in set(todo)]
    if done:
        # resuming an interrupted re-encode: the sharded-merge
        # exactness contract needs ONE codebook across all shards, and
        # a Lloyd retrain is not bit-stable across aggregation orders —
        # take the codebook the completed shards were encoded with
        cb = spark.read.parquet(f"{path}/shard={done[0]}/codebook")
        cb = spark.createDataFrame(cb.collect(), cb.schema)
        t_cb = 0.0
        print(f"# resuming: codebook reused from shard {done[0]}",
              flush=True)
    else:
        # ~1M strided sample from the store's own vectors (ids are the
        # corpus ids, uniform across shards by the pmod split)
        t0 = time.time()
        stride = max(1, n // sample_rows)
        sample = all_vecs.filter(F.col("id") % stride == 0).cache()
        n_sample = sample.count()
        print(f"# sample {n_sample:,} of {n:,} rows (stride {stride}): "
              f"{time.time() - t0:.0f} s", flush=True)
        t0 = time.time()
        cb = pq_codebook_residual(sample, cents)
        cb = spark.createDataFrame(cb.collect(), cb.schema)
        sample.unpersist()
        t_cb = time.time() - t0
        print(f"# residual codebook trained: {t_cb:.0f} s", flush=True)

    def swap(live: str, staged: str) -> None:
        old = live + "__old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(live, old)
        os.rename(staged, live)
        shutil.rmtree(old)

    t_shards = []
    for k in todo:
        t0 = time.time()
        base = f"{path}/shard={k}"
        vecs = spark.read.parquet(f"{base}/vectors")
        assigned = assign_cells(vecs, cents, metric="l2")
        codes_col = pq_codes_residual_udf(cb, cents)(
            F.col("vec"), F.col("cell")
        )
        staged = f"{base}/cells__new"
        if os.path.exists(staged):
            shutil.rmtree(staged)
        (
            assigned.select("cell", "id", codes_col.alias("codes"))
            .repartitionByRange(8, "cell")
            .sortWithinPartitions("cell", "id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staged)
        )
        cb.write.mode("overwrite").parquet(f"{base}/codebook__new")
        swap(f"{base}/cells", staged)
        swap(f"{base}/codebook", f"{base}/codebook__new")
        # merge — never rewrite — the shard's own meta (last: the tag
        # flip is what tells readers the swapped codes are residual)
        merge_store_meta(spark, base, {"encoding": encoding})
        t_shards.append(time.time() - t0)
        print(f"# shard {k} re-encoded: {t_shards[-1]:.0f} s", flush=True)

    # a stale layout-root shortlist recommendation measured the OLD
    # encoding's rank error — drop it; --maintain re-probes
    root_meta = read_store_meta_any(spark, path)
    if "recommended_shortlist" in root_meta:
        root_meta.pop("recommended_shortlist", None)
        spark.createDataFrame(
            [(_json.dumps(root_meta),)], "meta_json string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
    print(
        f"| ivfpq reencode -> {encoding} | {n:,} rows x{shards} shards | "
        f"codebook {t_cb:.0f} s + shards {sum(t_shards):.0f} s = "
        f"{(t_cb + sum(t_shards)) / 60:.0f} min |",
        flush=True,
    )


def resume_build(
    n: int = 100_000_000,
    dims: int = 64,
    shards: int = 10,
    path: str = DEFAULT_PATH,
) -> None:
    """Resume an interrupted --build: models are read back from the
    first COMPLETE shard (ivfpq_save persists centroids + codebook per
    shard; build_stats is written last, so its _SUCCESS is the shard's
    completeness marker), incomplete shard dirs are discarded, and only
    the missing shards run. Possible because everything is
    deterministic — the corpus regenerates from (SEED, block) and the
    shard split is pmod(xxhash64(id)) — so resumed shards are
    bit-identical to what an uninterrupted build would have written."""
    import shutil

    from vector_search_go_spark.serve.sharded import (
        shard_expr,
        write_shards_meta,
    )
    from vector_search_go_spark.session import get_spark

    spark = get_spark("probe-100m-resume")
    spark.sparkContext.setLogLevel("ERROR")

    def complete(k: int) -> bool:
        return os.path.exists(f"{path}/shard={k}/build_stats/_SUCCESS")

    done = [k for k in range(shards) if complete(k)]
    if not done:
        raise SystemExit("no complete shard to take models from — run --build")
    cents = spark.read.parquet(f"{path}/shard={done[0]}/centroids")
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    cb = spark.read.parquet(f"{path}/shard={done[0]}/codebook")
    cb = spark.createDataFrame(cb.collect(), cb.schema)
    # resumed shards must encode EXACTLY like the complete ones — take
    # the encoding from the complete shard's store_meta, not the
    # library default (a raw r9-era store resumed under the residual
    # default would mix encodings across shards)
    from vector_search_go_spark.operators.pq import store_encoding

    encoding = store_encoding(spark, f"{path}/shard={done[0]}")
    print(f"# resuming: shards {done} complete, models from shard {done[0]}, "
          f"encoding={encoding}", flush=True)

    corpus = gen_corpus(spark, n, dims)
    sh = shard_expr(shards)
    for k in range(shards):
        if complete(k):
            continue
        if os.path.exists(f"{path}/shard={k}"):
            shutil.rmtree(f"{path}/shard={k}")  # partial write
        t0 = time.time()
        ivfpq_save_mod = __import__(
            "vector_search_go_spark.operators.pq", fromlist=["ivfpq_save"]
        )
        ivfpq_save_mod.ivfpq_save(
            spark, corpus.filter(sh == k), cents, cb,
            f"{path}/shard={k}", metric="l2", encoding=encoding,
        )
        print(f"# shard {k}: {time.time() - t0:.0f} s", flush=True)
    write_shards_meta(spark, path, "ivfpq", shards, metric="l2")
    import subprocess

    du = subprocess.run(
        ["du", "-sh", path], capture_output=True, text=True
    ).stdout.split()[0]
    print(f"| ivfpq {n:,} x {dims} store resumed to {shards} shards | {du} "
          f"on disk |", flush=True)


def serve(
    path: str = DEFAULT_PATH,
    n: int = 100_000_000,
    dims: int = 64,
    nprobe: int = 8,
    batch: int = 20,
) -> None:
    """ms/q through the process-per-shard router: single-query and
    batch, same protocol as scale_probe.sharded_ivfpq_probe (held-out
    warmup, member queries, median/p90)."""
    from vector_search_go_spark.serve.sharded import ShardedReader

    rng = np.random.default_rng(SEED + 1)
    picks = rng.choice(n, size=120, replace=False)
    Q = {int(i): vec_of(int(i), n, dims) for i in picks}

    regimes = (
        ("", dict(preload_codes=True)),
        # staggered init: 10 workers' construction transients (~2x the
        # pinned matrix each) would OOM the box in parallel; steady
        # state (~6.5 GB/worker here) fits fine
        (", preload_vectors", dict(preload_codes=True, preload_vectors=True,
                                   stagger_init=True)),
    )
    for tag, kwargs in regimes:
        t0 = time.time()
        reader = ShardedReader(path, processes=True, **kwargs)
        t_init = time.time() - t0
        try:
            # parity spot-check: a member query's top-1 is itself at 0
            for qi in picks[:3]:
                top = reader.search(Q[int(qi)], k=1, nprobe=nprobe)
                assert int(top["id"][0]) == int(qi), (qi, top)
                assert float(top["dist"][0]) == 0.0
            for qi in picks[:20]:
                reader.search(Q[int(qi)], k=10, nprobe=nprobe)
            lat = []
            for qi in picks[20:]:
                t0 = time.time()
                reader.search(Q[int(qi)], k=10, nprobe=nprobe)
                lat.append((time.time() - t0) * 1000)
            lat.sort()
            med, p90 = lat[len(lat) // 2], lat[int(0.9 * len(lat))]
            print(
                f"| ivfpq sharded (processes{tag}) | {n:,} x {dims} | init "
                f"{t_init:.1f} s | {med:.1f} ms/q median | {p90:.1f} ms/q "
                f"p90 |",
                flush=True,
            )
            ids = [int(i) for i in picks]
            reader.search_many(
                [Q[i] for i in ids[:batch]], k=10,
                query_ids=list(range(batch)), nprobe=nprobe,
            )
            per_q = []
            for g0 in range(0, len(ids) - batch + 1, batch):
                g = ids[g0 : g0 + batch]
                t0 = time.time()
                reader.search_many(
                    [Q[i] for i in g], k=10,
                    query_ids=list(range(len(g))), nprobe=nprobe,
                )
                per_q.append((time.time() - t0) * 1000 / len(g))
            per_q.sort()
            print(
                f"| ivfpq sharded (processes{tag}), batch {batch} | "
                f"{n:,} x {dims} | — (same store) | "
                f"{per_q[len(per_q) // 2]:.1f} ms/q median | "
                f"{per_q[int(0.9 * (len(per_q) - 1))]:.1f} ms/q p90 |",
                flush=True,
            )
        finally:
            reader.close()


def _ground_truth(
    spark, n: int, dims: int, Q: np.ndarray, qids: list[int], k: int,
    cache_path: str,
) -> dict[int, list[int]]:
    """Exact L2 top-k ids for each query over the block-seeded corpus —
    the fan-in shape: every task keeps a local top-k per query over its
    regenerated blocks (BLAS GEMM per block, never materializing
    distances beyond the block), the driver merges ~64 partials.
    O(n * dims * n_queries) FLOPs and O(partitions * k * n_queries)
    rows cross to the driver; the corpus never lands. Cached as npz so
    repeated sweeps pay it once; the cache is KEYED on (n, dims, k,
    SEED) via a __key__ entry validated on load (ADVICE r9: a fixed
    filename silently served stale truth to a re-run with different
    parameters), regenerating on mismatch."""
    import os as _os

    key = np.array(
        [n, dims, k, SEED, N_CENTERS, int(round(SIGMA * 1e6))],
        dtype=np.int64,
    )
    if _os.path.exists(cache_path):
        z = np.load(cache_path)
        if "__key__" in z.files and np.array_equal(z["__key__"], key) and all(
            str(q) in z.files for q in qids
        ):
            return {int(q): z[str(q)].tolist() for q in qids}

    import pandas as pd

    n_blocks = (n + BLOCK - 1) // BLOCK
    Qn = (Q * Q).sum(axis=1)
    nq = len(qids)
    nc, sg = N_CENTERS, SIGMA  # capture for the executor-side closure

    def local_topk(batches):
        best_d = np.full((nq, k), np.inf)
        best_i = np.full((nq, k), -1, dtype=np.int64)
        for pdf in batches:
            for b in pdf["id"].tolist():
                X = block_rows(int(b), n, dims, nc, sg)
                lo = int(b) * BLOCK
                # ||x-q||^2 = ||x||^2 - 2 x.q + ||q||^2, GEMM-backed
                d2 = (
                    (X * X).sum(axis=1)[None, :]
                    - 2.0 * (Q @ X.T)
                    + Qn[:, None]
                )
                take = min(k, d2.shape[1])
                part = np.argpartition(d2, take - 1, axis=1)[:, :take]
                cand_d = np.take_along_axis(d2, part, axis=1)
                cand_i = part + lo
                all_d = np.concatenate([best_d, cand_d], axis=1)
                all_i = np.concatenate([best_i, cand_i], axis=1)
                sel = np.argsort(all_d, axis=1, kind="stable")[:, :k]
                best_d = np.take_along_axis(all_d, sel, axis=1)
                best_i = np.take_along_axis(all_i, sel, axis=1)
        out = []
        for qi in range(nq):
            for j in range(k):
                out.append((qi, int(best_i[qi, j]), float(best_d[qi, j])))
        yield pd.DataFrame(out, columns=["q", "id", "d2"])

    parts = spark.range(0, n_blocks, 1, 64).mapInPandas(
        local_topk, "q int, id long, d2 double"
    ).toPandas()
    truth: dict[int, list[int]] = {}
    for qi, qid in enumerate(qids):
        g = parts[parts["q"] == qi].sort_values(["d2", "id"]).head(k)
        truth[int(qid)] = [int(i) for i in g["id"]]
    np.savez(
        cache_path, __key__=key,
        **{str(q): np.array(v) for q, v in truth.items()},
    )
    return truth


def recall(
    path: str = DEFAULT_PATH,
    n: int = 100_000_000,
    dims: int = 64,
    k: int = 10,
) -> None:
    """recall@k of the sharded IVFADC store at the production budget and
    along the (nprobe, shortlist) frontier (VERDICT r8 next item 1 —
    the 100M receipt was latency-complete but recall-silent; the
    reference publishes recall for every dataset it times,
    README.md:150-178).

    Protocol: the SAME 100 measured queries as --serve (picks[20:] of
    rng(SEED+1)); ground truth by exact scan (_ground_truth); each
    config reports mean recall@k (id-set intersection / k) and median
    ms/q through the default-regime process-per-shard router. The
    'measured' shortlist config uses store_meta's recommended_shortlist
    (written by --maintain's adc_shortlist_probe) on fewer queries —
    at frac ~0.011 of 100M it reranks ~1.4M rows/query, the honest
    cost of exact-set recall on this low-contrast synthetic corpus."""
    import time as _time

    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.session import get_spark

    rng = np.random.default_rng(SEED + 1)
    picks = rng.choice(n, size=120, replace=False)
    qids = [int(i) for i in picks[20:]]
    Q = np.stack([vec_of(i, n, dims) for i in qids])

    spark = get_spark("probe-100m-recall")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = _time.time()
    truth = _ground_truth(
        spark, n, dims, Q, qids, k, os.path.join(path, "..", "gt100.npz")
    )
    print(f"# ground truth (exact top-{k}, {len(qids)} q): "
          f"{_time.time() - t0:.0f} s", flush=True)
    # the 'measured' config: the adc_shortlist_probe recommendation.
    # Resolve it EXPLICITLY (store_meta if a retune persisted it, else
    # run the bounded probe now) — shortlist=None through the reader
    # would silently fall back to the pq_shortlist floor on a store
    # whose maintain loop never tripped a rebuild.
    from vector_search_go_spark.serve.local_reader import _read_store_meta

    measured = _read_store_meta(path).get("recommended_shortlist")
    if measured is None:
        from vector_search_go_spark.operators.pq import adc_shortlist_probe

        t0 = _time.time()
        probe = adc_shortlist_probe(spark, path, k=k)
        measured = probe["recommended_shortlist"]
        print(f"# shortlist probe {probe} in {_time.time() - t0:.0f} s",
              flush=True)
    spark.stop()

    reader = ShardedReader(path, processes=True, preload_codes=True)
    try:
        configs = [
            (8, 100, len(qids)),      # the shipped production budget
            (16, 100, len(qids)),
            (32, 100, len(qids)),
            (64, 100, len(qids)),
            (8, 400, len(qids)),
            (8, 1600, len(qids)),
            (32, 1600, len(qids)),
            (8, int(measured), 10),   # measured recommended_shortlist
        ]
        for nprobe, shortlist, nq in configs:
            lats, recs = [], []
            for qid in qids[:nq]:
                qv = Q[qids.index(qid)]
                t0 = _time.time()
                top = reader.search(
                    qv, k=k, nprobe=nprobe, shortlist=shortlist
                )
                lats.append((_time.time() - t0) * 1000)
                got = set(int(i) for i in top["id"][:k])
                recs.append(len(got & set(truth[qid])) / k)
            lats.sort()
            tag = (
                f"{shortlist} (measured)"
                if shortlist == int(measured)
                else shortlist
            )
            print(
                f"| ivfpq 100M recall | nprobe={nprobe} shortlist={tag} "
                f"| recall@{k} {float(np.mean(recs)):.4f} | "
                f"{lats[len(lats) // 2]:.1f} ms/q median ({nq} q) |",
                flush=True,
            )
    finally:
        reader.close()


def recall_sq8(
    path: str = DEFAULT_PATH,
    n: int = 100_000_000,
    dims: int = 64,
    k: int = 10,
) -> None:
    """The SQ8 rerank tier at the flagship scale (VERDICT r10 item 4):
    exact-vs-sq8 rerank at the floor budget AND at the measured
    (exact-set) shortlist, same protocol as --recall. The tier's claim
    is that the big measured shortlist becomes servable: the exact
    rerank reads shortlist-many float rows per query, the sq8 path
    reads 8x-smaller codes for them and floats for only sq8_keep.
    Requires the tier (run pq.sq8_augment_store first — see
    sq8_augment() below)."""
    import time as _time

    from vector_search_go_spark.serve.local_reader import _read_store_meta
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.session import get_spark

    rng = np.random.default_rng(SEED + 1)
    picks = rng.choice(n, size=120, replace=False)
    qids = [int(i) for i in picks[20:]]
    Q = np.stack([vec_of(i, n, dims) for i in qids])

    spark = get_spark("probe-100m-recall-sq8")
    spark.sparkContext.setLogLevel("ERROR")
    truth = _ground_truth(
        spark, n, dims, Q, qids, k, os.path.join(path, "..", "gt100.npz")
    )
    measured = _read_store_meta(path).get("recommended_shortlist")
    if measured is None:
        from vector_search_go_spark.operators.pq import adc_shortlist_probe

        measured = adc_shortlist_probe(spark, path, k=k)[
            "recommended_shortlist"
        ]
    spark.stop()

    def open_reader():
        return ShardedReader(
            path, processes=True, preload_codes=True, preload_sq8=True,
            stagger_init=True,
        )

    reader = open_reader()
    try:
        # the exact rerank at the measured budget is LAST and
        # failure-isolated: 227k scattered ids decompress most of each
        # shard's 4.9 GB vectors table concurrently in ten workers —
        # the measured OOM (SCALE.md r11) the sq8 tier exists to avoid
        configs = [
            (8, 100, "exact", None, len(qids)),
            (8, 100, "sq8", 100, len(qids)),
            (32, 1600, "sq8", 100, len(qids)),
            (8, int(measured), "sq8", 100, 10),
            (8, int(measured), "sq8", 400, 10),
            (8, int(measured), "exact", None, 10),
        ]
        for nprobe, shortlist, mode, keep, nq in configs:
            lats, recs = [], []
            try:
                for qid in qids[:nq]:
                    qv = Q[qids.index(qid)]
                    kw = dict(k=k, nprobe=nprobe, shortlist=shortlist)
                    if mode == "sq8":
                        kw.update(rerank="sq8", sq8_keep=keep)
                    t0 = _time.time()
                    top = reader.search(qv, **kw)
                    lats.append((_time.time() - t0) * 1000)
                    got = set(int(i) for i in top["id"][:k])
                    recs.append(len(got & set(truth[qid])) / k)
            except Exception as e:
                print(
                    f"| ivfpq 100M sq8-tier | nprobe={nprobe} "
                    f"shortlist={shortlist} rerank={mode} | FAILED "
                    f"{type(e).__name__} after {len(lats)} q |",
                    flush=True,
                )
                reader.close()
                reader = open_reader()
                continue
            lats.sort()
            tag = f"{mode}" + (f" keep={keep}" if mode == "sq8" else "")
            print(
                f"| ivfpq 100M sq8-tier | nprobe={nprobe} "
                f"shortlist={shortlist} rerank={tag} | recall@{k} "
                f"{float(np.mean(recs)):.4f} | {lats[len(lats) // 2]:.1f} "
                f"ms/q median ({nq} q) |",
                flush=True,
            )
    finally:
        reader.close()


def sq8_augment(path: str = DEFAULT_PATH, shards: int = 10) -> None:
    """Write the SQ8 tier onto the existing store (one 51 GB vectors
    pass for the global stats + one per shard for the encode)."""
    from vector_search_go_spark.operators.pq import sq8_augment_store
    from vector_search_go_spark.session import get_spark

    spark = get_spark("probe-100m-sq8aug")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    sq8_augment_store(spark, path, shards=shards)
    import subprocess

    du = subprocess.run(
        ["du", "-shc"] + [f"{path}/shard={k}/vectors_sq8" for k in range(shards)],
        capture_output=True, text=True,
    ).stdout.splitlines()[-1].split()[0]
    print(
        f"| ivfpq 100M sq8 tier written | {du} codes on disk | "
        f"{(time.time() - t0) / 60:.0f} min |",
        flush=True,
    )


def maintain(path: str = DEFAULT_PATH) -> None:
    """Whole-store staleness on the sharded layout (union of per-shard
    masses — must say FRESH right after the build) + the bounded
    adc_shortlist_probe writing the layout-level recommended_shortlist
    the router serves with."""
    from vector_search_go_spark.operators.pq import adc_shortlist_probe
    from vector_search_go_spark.session import get_spark
    from vector_search_go_spark.streaming.maintain import maintain_ivfpq

    spark = get_spark("probe-100m-maintain")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    rep = maintain_ivfpq(spark, path)
    t_stale = time.time() - t0
    t0 = time.time()
    probe = adc_shortlist_probe(spark, path)
    t_probe = time.time() - t0
    print(
        f"| ivfpq 100M maintain | action={rep.get('action')} "
        f"tv_drift={rep.get('tv_drift')} growth={rep.get('growth')} "
        f"in {t_stale:.0f} s | shortlist probe {probe} in {t_probe:.0f} s |",
        flush=True,
    )


if __name__ == "__main__":
    argv = sys.argv[1:]
    # geometry flags apply to every phase and must be IDENTICAL across
    # a store's build / serve / recall runs (the corpus is regenerated
    # per phase) — e.g. --centers 4096 --sigma 0.25 plants a
    # contrastive clustered corpus (VERDICT r9 item 2)
    for flag, cast, gname in (
        ("--centers", int, "N_CENTERS"),
        ("--sigma", float, "SIGMA"),
    ):
        while flag in argv:
            i = argv.index(flag)
            globals()[gname] = cast(argv[i + 1])
            del argv[i : i + 2]
    if argv[:1] == ["--build"]:
        a = [s if not s.lstrip("-").isdigit() else int(s) for s in argv[1:]]
        build(*a)
    elif argv[:1] == ["--reencode"]:
        p = argv[1] if len(argv) > 1 else DEFAULT_PATH
        a = [int(s) if s.lstrip("-").isdigit() else s for s in argv[2:]]
        reencode(p, *a)
    elif argv[:1] == ["--resume-build"]:
        a = [s if not s.lstrip("-").isdigit() else int(s) for s in argv[1:]]
        resume_build(*a)
    elif argv[:1] == ["--serve"]:
        p = argv[1] if len(argv) > 1 else DEFAULT_PATH
        a = [int(s) for s in argv[2:]]
        serve(p, *a)
    elif argv[:1] == ["--maintain"]:
        maintain(*argv[1:2])
    elif argv[:1] == ["--recall"]:
        p = argv[1] if len(argv) > 1 else DEFAULT_PATH
        a = [int(s) for s in argv[2:]]
        recall(p, *a)
    elif argv[:1] == ["--recall-sq8"]:
        p = argv[1] if len(argv) > 1 else DEFAULT_PATH
        a = [int(s) for s in argv[2:]]
        recall_sq8(p, *a)
    elif argv[:1] == ["--sq8-augment"]:
        p = argv[1] if len(argv) > 1 else DEFAULT_PATH
        a = [int(s) for s in argv[2:]]
        sq8_augment(p, *a)
    else:
        print(__doc__)
        sys.exit(2)
