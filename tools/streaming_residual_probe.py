"""1M-scale residual streaming receipt (VERDICT r10 item 6).

The arrival-to-servable cycle — (id, vec) stream -> sharded RESIDUAL
IVFADC store — is integration-tested at toy scale; this probe measures
it at 1M rows with a drifted tail and answers the open question: does
frozen-model residual ingest decay recall as the corpus drifts from the
training sample?

Protocol (all deterministic, seeded):
  1. BASE corpus: 800k rows, 512 Gaussian clusters (sigma 0.25 — the
     contrastive geometry real embedding corpora have). Models trained
     on a ~200k sample; ivfpq_save(shards=4, encoding residual).
  2. DRIFTED tail: 200k rows — 80% from the same mixture, 20% from 64
     NEW clusters the coarse model never saw. Landed as parquet and
     drained through ingest_to_sharded_store (frozen centroids + frozen
     residual codebook; streamed codes are bit-identical to a batch
     re-save through the same kernels). Throughput reported.
  3. GATE: maintain_ivfpq's TV-distance staleness verdict on the
     ingested store — the same trigger the scheduled ingest_cycle uses.
  4. RECALL: exact ground truth over the full 1M (driver-side GEMM) for
     60 queries drawn from the streamed tail (40 same-mixture, 20
     new-cluster) + 20 base members; recall@10 through the sharded
     router at the floor budget, on (a) the ingested store and (b) a
     full REBUILT store whose models saw all 1M rows — the decay, if
     any, is (b) minus (a).

Run: python tools/streaming_residual_probe.py [n_base n_stream dims]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SEED = 23
BASE_DIR = "/tmp/stream_res"


def make_corpora(n_base: int, n_stream: int, dims: int):
    rng = np.random.default_rng(SEED)
    centers = rng.normal(size=(512, dims)) * 2.0
    new_centers = rng.normal(size=(64, dims)) * 2.0
    a_base = rng.integers(0, len(centers), size=n_base)
    Xb = centers[a_base] + 0.25 * rng.normal(size=(n_base, dims))
    n_same = int(0.8 * n_stream)
    a_same = rng.integers(0, len(centers), size=n_same)
    a_new = rng.integers(0, len(new_centers), size=n_stream - n_same)
    Xs = np.concatenate(
        [
            centers[a_same] + 0.25 * rng.normal(size=(n_same, dims)),
            new_centers[a_new]
            + 0.25 * rng.normal(size=(n_stream - n_same, dims)),
        ]
    )
    return Xb, Xs, n_same


def main(n_base: int = 800_000, n_stream: int = 200_000, dims: int = 64):
    from pyspark.sql import functions as F

    from tools.scale_probe import land_corpus
    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.operators.pq import (
        default_k_cells,
        ivfpq_save,
        pq_codebook_residual,
    )
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.session import get_spark
    from vector_search_go_spark.streaming.ingest import ingest_to_sharded_store
    from vector_search_go_spark.streaming.maintain import maintain_ivfpq

    spark = get_spark("stream-res-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.exists(BASE_DIR):
        shutil.rmtree(BASE_DIR)
    os.makedirs(BASE_DIR)

    Xb, Xs, n_same = make_corpora(n_base, n_stream, dims)
    n = n_base + n_stream
    k_cells = default_k_cells(n_base)

    # -- 1. base store (models see ONLY the base corpus) --------------
    base = land_corpus(spark, Xb)
    t0 = time.time()
    sample = base.filter(F.col("id") % 4 == 0).cache()
    sample.count()
    cents = kmeans_fit(sample, k_cells, iters=3, dim=dims)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    cb = pq_codebook_residual(sample, cents)
    cb = spark.createDataFrame(cb.collect(), cb.schema)
    sample.unpersist()
    t_models = time.time() - t0
    path = f"{BASE_DIR}/store"
    t0 = time.time()
    ivfpq_save(spark, base, cents, cb, path, metric="l2", shards=4)
    t_save = time.time() - t0
    print(f"# base store: models {t_models:.0f} s + save {t_save:.0f} s "
          f"({n_base:,} rows, {k_cells} cells, residual)", flush=True)

    # -- 2. drain the drifted tail through the frozen models ----------
    land = f"{BASE_DIR}/landing"
    os.makedirs(land)
    import pyarrow as pa
    import pyarrow.parquet as papq

    files = 8
    per = (n_stream + files - 1) // files
    for fi in range(files):
        lo, hi = fi * per, min(n_stream, (fi + 1) * per)
        tbl = pa.table(
            {
                "id": pa.array(
                    np.arange(n_base + lo, n_base + hi), type=pa.int64()
                ),
                "vec": pa.FixedSizeListArray.from_arrays(
                    pa.array(Xs[lo:hi].reshape(-1)), dims
                ).cast(pa.list_(pa.float64())),
            }
        )
        papq.write_table(tbl, f"{land}/part{fi}.parquet")
    stream = spark.readStream.schema("id bigint, vec array<double>").parquet(
        land
    )
    t0 = time.time()
    ingest_to_sharded_store(
        spark, stream, path, f"{BASE_DIR}/ckpt", timeout=600
    )
    t_drain = time.time() - t0
    print(
        f"| residual stream drain | {n_stream:,} rows x {dims} -> 4-shard "
        f"residual store | {t_drain:.0f} s | "
        f"{n_stream / t_drain:,.0f} rows/s |",
        flush=True,
    )

    # -- 3. the staleness gate on the ingested store ------------------
    t0 = time.time()
    rep = maintain_ivfpq(spark, path)
    print(
        f"| post-ingest staleness gate | action={rep.get('action')} "
        f"tv_drift={rep.get('tv_drift')} growth={rep.get('growth')} | "
        f"{time.time() - t0:.0f} s |",
        flush=True,
    )

    # -- 4. recall: ingested (frozen models) vs rebuilt (full retrain) -
    X_all = np.concatenate([Xb, Xs])
    rng = np.random.default_rng(SEED + 1)
    q_same = n_base + rng.choice(n_same, size=40, replace=False)
    q_new = n_base + n_same + rng.choice(
        n_stream - n_same, size=20, replace=False
    )
    q_base = rng.choice(n_base, size=20, replace=False)
    qids = np.concatenate([q_base, q_same, q_new]).astype(np.int64)
    Q = X_all[qids]
    # exact ground truth, one GEMM block pass
    truth = {}
    k = 10
    sq_all = (X_all * X_all).sum(axis=1)
    for bi in range(0, len(qids), 20):
        qb = Q[bi : bi + 20]
        D = sq_all[None, :] - 2.0 * (qb @ X_all.T) + (qb * qb).sum(axis=1)[:, None]
        for j in range(len(qb)):
            truth[int(qids[bi + j])] = set(
                np.lexsort((np.arange(n), D[j]))[:k].tolist()
            )

    rebuilt = f"{BASE_DIR}/rebuilt"
    full = land_corpus(spark, X_all)
    t0 = time.time()
    sample = full.filter(F.col("id") % 5 == 0).cache()
    sample.count()
    cents2 = kmeans_fit(sample, default_k_cells(n), iters=3, dim=dims)
    cents2 = spark.createDataFrame(cents2.collect(), cents2.schema)
    cb2 = pq_codebook_residual(sample, cents2)
    cb2 = spark.createDataFrame(cb2.collect(), cb2.schema)
    sample.unpersist()
    ivfpq_save(spark, full, cents2, cb2, rebuilt, metric="l2", shards=4)
    print(f"# rebuilt store (full retrain): {time.time() - t0:.0f} s",
          flush=True)
    spark.stop()

    for tag, p in (("ingested (frozen models)", path), ("rebuilt", rebuilt)):
        reader = ShardedReader(p, processes=True, preload_codes=True)
        try:
            groups = {
                "base": q_base.tolist(),
                "streamed-same": (q_same).tolist(),
                "streamed-new": (q_new).tolist(),
            }
            for gname, gids in groups.items():
                recs, lats = [], []
                for qid in gids:
                    qv = X_all[int(qid)]
                    t0 = time.time()
                    top = reader.search(qv, k=k, nprobe=8)
                    lats.append((time.time() - t0) * 1000)
                    got = set(int(i) for i in top["id"][:k])
                    recs.append(len(got & truth[int(qid)]) / k)
                lats.sort()
                print(
                    f"| residual stream recall | {tag} | {gname} | "
                    f"recall@10 {float(np.mean(recs)):.4f} | "
                    f"{lats[len(lats) // 2]:.1f} ms/q median "
                    f"({len(gids)} q) |",
                    flush=True,
                )
        finally:
            reader.close()

    # -- 5. heavy drift: the gate must fire and the rebuild must heal -
    # A second tail that is 100% out-of-distribution (clusters the
    # frozen models never saw) and big enough to cross the growth
    # threshold (total appended > 50% of the build-time baseline).
    # maintain_ivfpq then clears-and-rebuilds (retrain coarse +
    # codebook on the store's own vectors, re-encode, re-save, retune
    # the shortlist via the cell-aware probe) — recall on the new
    # clusters should rise to the retrained level.
    n2 = max(50_000, int(0.55 * n_base) - n_stream)  # 240k at defaults:
    # total appended (200k + 240k) / 800k = 0.55 > growth_threshold 0.5
    rng2 = np.random.default_rng(SEED + 7)
    new_centers2 = rng2.normal(size=(64, dims)) * 2.0
    a2 = rng2.integers(0, len(new_centers2), size=n2)
    X2 = new_centers2[a2] + 0.25 * rng2.normal(size=(n2, dims))
    land2 = f"{BASE_DIR}/landing2"
    os.makedirs(land2)
    tbl = pa.table(
        {
            "id": pa.array(np.arange(n, n + n2), type=pa.int64()),
            "vec": pa.FixedSizeListArray.from_arrays(
                pa.array(X2.reshape(-1)), dims
            ).cast(pa.list_(pa.float64())),
        }
    )
    papq.write_table(tbl, f"{land2}/part0.parquet")
    spark = get_spark("stream-res-probe2")
    spark.sparkContext.setLogLevel("ERROR")
    stream2 = spark.readStream.schema("id bigint, vec array<double>").parquet(
        land2
    )
    t0 = time.time()
    ingest_to_sharded_store(
        spark, stream2, path, f"{BASE_DIR}/ckpt2", timeout=600
    )
    print(f"# heavy tail drained: {n2:,} all-new-cluster rows in "
          f"{time.time() - t0:.0f} s", flush=True)
    t0 = time.time()
    rep2 = maintain_ivfpq(spark, path)
    print(
        f"| heavy-drift gate | action={rep2.get('action')} "
        f"tv_drift={rep2.get('tv_drift')} growth={rep2.get('growth')} "
        f"retuned_shortlist={rep2.get('recommended_shortlist')} | "
        f"{time.time() - t0:.0f} s |",
        flush=True,
    )
    spark.stop()

    X_all2 = np.concatenate([X_all, X2])
    q2 = n + rng2.choice(n2, size=20, replace=False)
    sq_all2 = (X_all2 * X_all2).sum(axis=1)
    truth2 = {}
    for gids in (q_new.tolist(), q2.tolist()):
        qb = X_all2[np.asarray(gids, dtype=np.int64)]
        D = (
            sq_all2[None, :]
            - 2.0 * (qb @ X_all2.T)
            + (qb * qb).sum(axis=1)[:, None]
        )
        for j, qid in enumerate(gids):
            truth2[int(qid)] = set(
                np.lexsort((np.arange(len(X_all2)), D[j]))[:k].tolist()
            )
    reader = ShardedReader(path, processes=True, preload_codes=True)
    try:
        for gname, gids in (
            ("tail1-new (post-rebuild)", q_new.tolist()),
            ("tail2-new (post-rebuild)", q2.tolist()),
        ):
            recs = []
            for qid in gids:
                top = reader.search(X_all2[int(qid)], k=k, nprobe=8)
                got = set(int(i) for i in top["id"][:k])
                recs.append(len(got & truth2[int(qid)]) / k)
            print(
                f"| residual stream recall | {gname} | "
                f"recall@10 {float(np.mean(recs)):.4f} ({len(gids)} q) |",
                flush=True,
            )
    finally:
        reader.close()


if __name__ == "__main__":
    args = [int(a) for a in sys.argv[1:]]
    main(*args)
