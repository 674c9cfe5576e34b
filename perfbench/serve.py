"""``serve_ingest_100k``: Spark-free point lookups around a streaming ingest.

Three stores are built over one 100k x 64 clustered corpus: LSH
(``LshIndex.save``), IVF (``ivf_save``) and IVFADC with the SQ8 tier in
the sharded layout (``ivfpq_save(shards=2, sq8=True)``). Building them
takes minutes on 4 cores, far past one run, so the first run in a
checkout, of either workload, builds them once from the fixed
``BUILD_SEED`` (:func:`ensure_stores`) and every run copies them fresh. The
run seed draws the held-out queries and the ingest batch. A traced run
also times the LSH and IVF save functions on a ``SAVE_PROBE_N`` prefix
of the corpus, so those save layers are measured in every traced run;
``ivfpq_save`` (~30 s even at that size) is timed only when the cache is
built, and that time is kept in the run artifact.

* Phase A: single-query ``search(q, k=10)`` lookups for half of
  ``--seconds``, one closed-loop client, each round sending every held-out query to each of
  ``LocalLshReader(preload_buckets=True)``,
  ``LocalIvfReader(preload_cells=True)`` and ``ShardedReader`` (threads,
  codes and SQ8 tier preloaded). No lookup launches a Spark job or reads
  a file, so the store layout shows in the open time, not in lookups
  that would wait on a disk shared with other tenants.
* Phase B: ``ingest_cycle`` drains the ingest batch into the LSH store
  and compacts it, from a fresh checkpoint. Only the LSH store takes the
  batch: one cycle costs ~20 s on 4 cores, mostly fixed Spark job cost
  in a fresh JVM, and a second one would not fit the run budget.
* Phase C: the readers are reopened and phase A repeats for the other
  half; the truth of
  the LSH store now includes the batch.

Every lookup must return k distinct ids in distance order; recall@10 is
measured against numpy exact top-10 over the store's contents, and each
reader's mean recall must stay above ``RECALL_FLOOR``. In phase C the
LSH reader must return some of the ingested ids.

``total_s`` is the median round time of phase A plus that of phase C.
The ingest cycle's time is the layer metric
``streaming.maintain.ingest_cycle_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from measure import median, recall_at_k, tail

WORKLOAD = "serve_ingest_100k"
BUILD_SEED = 0
N = 100_000
# A lookup's cost depends on the cells its query lands in: IVF lookups
# of single queries spread over +-30%, and the median lookup of a run is
# an IVF one. 80 held-out queries keep that median within ~5% from seed
# to seed. x 3 readers that is a round of 240 lookups (~3 s on 4
# cores), one or more per phase.
N_QUERIES = 80
# lookups per reader before a phase is timed (first reads, lazy loads)
WARMUP_QUERIES = 5
N_INGEST = N // 20  # a 5% batch
N_CELLS = 100
K = 10
NPROBE = 8
LSH_TREES = 8
CACHE_VERSION = 1
SAVE_PROBE_N = 5_000
# Mean recall@10 per reader and phase sits near 0.99 (LSH), 0.98 (IVF)
# and 0.65 (IVFADC with SQ8 rerank) on this corpus, with single queries
# as low as 0.8, 0.5 and 0.2; a broken index falls far below these
# floors for the mean of the held-out queries.
RECALL_FLOOR = {"lsh": 0.8, "ivf": 0.8, "ivfpq": 0.3}

FAMILIES = (
    ("lsh", "serve.local_reader.lsh"),
    ("ivf", "serve.local_reader.ivf"),
    ("ivfpq", "serve.sharded.ivfpq"),
)
LAYERS = {
    "lsh.index.save_s": "s",
    "operators.ann_ivf.save_s": "s",
    "serve.local_reader.open_s": "s",
    "serve.sharded.open_s": "s",
    **{
        f"{prefix}.{what}.{phase}": unit
        for _fam, prefix in FAMILIES
        for phase in ("a", "c")
        for what, unit in (
            ("search_ms.p50", "ms"), ("search_ms.tail", "ms"), ("recall", "ratio"),
        )
    },
    "streaming.maintain.ingest_cycle_s": "s",
    "streaming.ingest.files_before_compact": "count",
    "streaming.ingest.files_after": "count",
    "streaming.ingest.bytes_written": "bytes",
    "streaming.ingest.hits_c": "count",
    "streaming.ingest_vps": "vectors/s",
    "streaming.store_bytes_ratio": "ratio",
}


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def build_stores(run, dest: str, n: int, ivfpq: bool = True) -> dict:
    """Train and save the stores over the first ``n`` corpus vectors
    into ``dest`` (IVFADC only if ``ivfpq``); returns each save layer's
    seconds."""
    from pyspark.sql import functions as F

    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    os.makedirs(os.path.join(dest, "corpus"))
    _c, X = gen.serve_corpus(BUILD_SEED, N)
    pq.write_table(gen.id_vec_table(np.arange(n), X[:n]), os.path.join(dest, "corpus", "part-0.parquet"))
    spark = run.spark
    corpus = spark.read.parquet(os.path.join(dest, "corpus"))
    step = n // N_CELLS
    cents = corpus.filter(F.col("id") % step == 0).select(
        (F.col("id") / step).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    times = {}
    with run.tracer.span("lsh.index.save"), run.job_group(f"{WORKLOAD}/save/lsh", f"{WORKLOAD}/save/lsh"):
        t0 = time.perf_counter()
        LshIndex.train(
            spark, corpus,
            LshConfig(dims=gen.DIMS, n_trees=LSH_TREES, k_min_vecs=200, seed=7,
                      sample_size=min(20_000, n)),
        ).save(os.path.join(dest, "lsh"))
        times["lsh.index.save_s"] = time.perf_counter() - t0
    with run.tracer.span("operators.ann_ivf.save"), run.job_group(f"{WORKLOAD}/save/ivf", f"{WORKLOAD}/save/ivf"):
        t0 = time.perf_counter()
        ivf_save(spark, corpus, cents, os.path.join(dest, "ivf"), metric="cosine")
        times["operators.ann_ivf.save_s"] = time.perf_counter() - t0
    if not ivfpq:
        return times
    with run.tracer.span("operators.pq.save"), run.job_group(f"{WORKLOAD}/save/ivfpq", f"{WORKLOAD}/save/ivfpq"):
        t0 = time.perf_counter()
        emb = corpus.select(F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
        ivfpq_save(
            spark, corpus, cents, pq_codebook(emb), os.path.join(dest, "ivfpq"),
            metric="l2", shards=2, sq8=True,
        )
        times["operators.pq.save_s"] = time.perf_counter() - t0
    return times


def ensure_stores(run) -> str:
    """The checkout's full-size stores, built on first use; returns
    their directory."""
    cache = os.path.join(
        os.path.dirname(run.work),
        f"serve-stores-v{CACHE_VERSION}-n{N}-c{N_CELLS}-t{LSH_TREES}-b{BUILD_SEED}",
    )
    if os.path.isfile(os.path.join(cache, "manifest.json")):
        return cache
    tmp = f"{cache}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    with run.tracer.span("build"):
        times = build_stores(run, tmp, N)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"build_seed": BUILD_SEED, "n": N, "save_s": times}, fh)
    try:
        os.rename(tmp, cache)
    except OSError:
        # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return cache


def _prepare(run, cache: str, dst: str, Qi: np.ndarray) -> None:
    """Fresh copy of the stores, the ingest landing dir, no checkpoint."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for name in ("lsh", "ivf", "ivfpq"):
        shutil.copytree(os.path.join(cache, name), os.path.join(dst, name))
    os.makedirs(os.path.join(dst, "land"))
    pq.write_table(
        gen.id_vec_table(np.arange(N, N + N_INGEST), Qi),
        os.path.join(dst, "land", "part-0.parquet"),
    )


def _open(run, stores: str) -> tuple[dict, float, float]:
    from vector_search_go_spark.serve.local_reader import LocalIvfReader, LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    with run.tracer.span("serve.local_reader.open"):
        t0 = time.perf_counter()
        readers = {
            "lsh": LocalLshReader(os.path.join(stores, "lsh"), metric="l2", preload_buckets=True),
            "ivf": LocalIvfReader(os.path.join(stores, "ivf"), metric="cosine", preload_cells=True),
        }
        t_local = time.perf_counter() - t0
    with run.tracer.span("serve.sharded.open"):
        t0 = time.perf_counter()
        readers["ivfpq"] = ShardedReader(
            os.path.join(stores, "ivfpq"), max_workers=min(2, run.cpus),
            preload_codes=True, preload_sq8=True,
        )
        t_sharded = time.perf_counter() - t0
    return readers, t_local, t_sharded


_SEARCH_KW = {
    "lsh": {},
    "ivf": {"nprobe": NPROBE},
    "ivfpq": {"nprobe": NPROBE, "rerank": "sq8"},
}


def _round(run, op: str, readers: dict, Q: np.ndarray, truth: dict, lat: dict, rec: dict,
           hits: dict | None = None) -> None:
    """Every query to every reader once, in order; checks each result
    and counts returned ids of ingested vectors into ``hits``."""
    for qi in range(len(Q)):
        for fam, prefix in FAMILIES:
            run.attempt()
            with run.tracer.span(f"{prefix}.search", op=f"{op}/{qi}/{fam}"):
                t0 = time.perf_counter()
                df = readers[fam].search(Q[qi], k=K, query_id=qi, **_SEARCH_KW[fam])
                dt = time.perf_counter() - t0
            lat[fam].append(dt)
            ids = df["id"].tolist()
            dists = df["dist"].tolist()
            ok = (
                len(ids) == K
                and len(set(ids)) == K
                and all(a <= b for a, b in zip(dists, dists[1:]))
            )
            run.check(ok, f"{op} {fam} query {qi}: {len(ids)} rows")
            rec[fam].append(recall_at_k(ids, truth[fam][qi]))
            if hits is not None:
                hits[fam] += sum(i >= N for i in ids)


def _phase(run, tag: str, readers: dict, Q: np.ndarray, truth: dict, budget: float) -> dict:
    """``WARMUP_QUERIES`` untimed lookups per reader (first reads, lazy
    loads), then timed closed-loop rounds until ``budget`` seconds pass
    (at least one)."""
    def per_family() -> dict[str, list[float]]:
        return {f: [] for f, _ in FAMILIES}

    with run.tracer.span(f"phase.{tag}.warmup"):
        _round(run, f"{tag}/warmup", readers, Q[:WARMUP_QUERIES], truth, per_family(), per_family())
    lat, rec = per_family(), per_family()
    hits = dict.fromkeys(lat, 0)
    rounds: list[float] = []
    t_phase = time.perf_counter()
    with run.tracer.span(f"phase.{tag}"):
        while not rounds or time.perf_counter() - t_phase < budget:
            tr = time.perf_counter()
            with run.tracer.span("round"):
                _round(run, f"{tag}/{len(rounds)}", readers, Q, truth, lat, rec, hits)
            rounds.append(time.perf_counter() - tr)
    wall = time.perf_counter() - t_phase
    for fam, prefix in FAMILIES:
        recall = float(np.mean(rec[fam]))
        run.check(recall >= RECALL_FLOOR[fam], f"phase {tag} {fam}: mean recall {recall:.3f}")
        run.layer(f"{prefix}.search_ms.p50.{tag}", median(lat[fam]) * 1e3, "ms")
        run.layer(f"{prefix}.search_ms.tail.{tag}", tail(lat[fam])[0] * 1e3, "ms")
        run.layer(f"{prefix}.recall.{tag}", recall, "ratio")
    return {"lat": lat, "recall": rec, "rounds": rounds, "wall": wall, "hits": hits}


def _ingest(run, stores: str) -> dict:
    """Phase B: one ``ingest_cycle`` of the landed batch into the LSH
    store, compaction forced."""
    from vector_search_go_spark.streaming.ingest import parquet_file_count
    from vector_search_go_spark.streaming.maintain import ingest_cycle

    path = os.path.join(stores, "lsh")
    before = _dir_bytes(path)
    stream = run.spark.readStream.schema("id bigint, vec array<double>").parquet(
        os.path.join(stores, "land")
    )
    gid = f"{WORKLOAD}/ingest_cycle/lsh"
    with run.tracer.span("streaming.maintain.ingest_cycle", op="B/lsh"), run.job_group(gid, gid):
        t0 = time.perf_counter()
        report = ingest_cycle(
            run.spark, stream, path, os.path.join(stores, "ckpt_lsh"), compact_over=0,
        )
        seconds = time.perf_counter() - t0
    run.check(report.get("action") == "compacted", f"ingest lsh: action {report.get('action')}")
    compact = report.get("compact", {}).values()
    return {
        "seconds": seconds,
        "counts": run.group_counts(gid),
        "files_before": sum(int(c["files_before"]) for c in compact),
        "files_after": sum(int(c["files_after"]) for c in compact),
        "files_now": parquet_file_count(path),
        "bytes_written": _dir_bytes(path) - before,
        "report": report,
    }


def main(run) -> None:
    cache = ensure_stores(run)
    with open(os.path.join(cache, "manifest.json")) as fh:
        run.artifact["full_build_save_s"] = json.load(fh)["save_s"]

    centers, X = gen.serve_corpus(BUILD_SEED, N)
    Q, Qi = gen.serve_requests(run.seed, centers, N_QUERIES, N_INGEST)
    stores = os.path.join(run.work, "stores")
    run.setup(lambda i: _prepare(run, cache, stores + (f"_rep{i}" if i else ""), Qi))
    for i in (1, 2):
        shutil.rmtree(f"{stores}_rep{i}", ignore_errors=True)

    ids = np.arange(N)
    t_before = gen.exact_topk(Q, X, ids, K)
    t_after = gen.exact_topk(Q, np.vstack([X, Qi]), np.arange(N + N_INGEST), K)

    t_start = time.perf_counter()
    readers, t_local, t_sharded = _open(run, stores)
    run.layer("serve.local_reader.open_s", t_local, "s")
    run.layer("serve.sharded.open_s", t_sharded, "s")
    a = _phase(run, "a", readers, Q, {"lsh": t_before, "ivf": t_before, "ivfpq": t_before}, run.seconds / 2)
    readers["ivfpq"].close()

    with run.tracer.span("phase.b"):
        b = _ingest(run, stores)

    readers, _t_local, _t_sharded = _open(run, stores)
    c = _phase(run, "c", readers, Q, {"lsh": t_after, "ivf": t_before, "ivfpq": t_before}, run.seconds / 2)
    readers["ivfpq"].close()
    wall = time.perf_counter() - t_start
    # the batch is drawn around the corpus centers, so the exact top-10
    # of some queries holds ingested ids; the LSH reader must find some
    want = int((t_after >= N).sum())
    run.attempt()
    run.check(want == 0 or c["hits"]["lsh"] > 0,
              f"phase c lsh: no ingested id returned, {want} in the truth")

    ingest_s = b["seconds"]
    ops = [x for ph in (a, c) for fam in ph["lat"].values() for x in fam]
    recalls = [x for ph in (a, c) for fam in ph["recall"].values() for x in fam]
    run.end_to_end(
        # one ingest cycle is a single sample of mostly fixed Spark job
        # cost that swings 2x between runs, so it is a layer metric
        total_s=median(a["rounds"]) + median(c["rounds"]),
        ops=ops,
        ops_per_s=len(ops) / (a["wall"] + c["wall"]),
        recall_mean=float(np.mean(recalls)),
    )
    run.layer("streaming.maintain.ingest_cycle_s", ingest_s, "s")
    run.layer("streaming.ingest.files_before_compact", b["files_before"], "count")
    run.layer("streaming.ingest.files_after", b["files_after"], "count")
    run.layer("streaming.ingest.bytes_written", b["bytes_written"], "bytes")
    run.layer("streaming.ingest.hits_c", c["hits"]["lsh"], "count")
    run.layer("streaming.ingest_vps", N_INGEST / ingest_s, "vectors/s")
    raw = (N + N_INGEST) * gen.DIMS * 8
    run.layer("streaming.store_bytes_ratio", _dir_bytes(os.path.join(stores, "lsh")) / raw, "ratio")
    for k, v in b["counts"].items():
        run.layer(f"spark.{k}", v, "count")
    run.artifact.update(
        shape={"n": N, "dims": gen.DIMS, "n_queries": N_QUERIES, "n_ingest": N_INGEST,
               "n_cells": N_CELLS, "nprobe": NPROBE, "lsh_trees": LSH_TREES},
        phase_a={"rounds_s": a["rounds"], "lat_s": a["lat"], "recall": a["recall"], "hits": a["hits"]},
        phase_c={"rounds_s": c["rounds"], "lat_s": c["lat"], "recall": c["recall"], "hits": c["hits"]},
        ingest={k: v for k, v in b.items() if k != "report"},
        ingest_report=b["report"], wall_s=wall, ingested_in_truth=want,
    )
    if run.traced:
        _save_probe(run)
        run.post_event_log = lambda per_desc: _event_log_layers(run, per_desc)


def _save_probe(run) -> None:
    """Traced run only, after the timed phases: train and save the LSH
    and IVF stores over the first ``SAVE_PROBE_N`` corpus vectors."""
    dest = os.path.join(run.work, "save_probe")
    with run.tracer.span("save_probe"):
        for name, s in build_stores(run, dest, SAVE_PROBE_N, ivfpq=False).items():
            run.layer(name, s, "s")
    shutil.rmtree(dest, ignore_errors=True)


def _event_log_layers(run, per_desc: dict) -> None:
    """Executor and Python-worker metrics of the ingest cycle."""
    from sparkstats import METRIC_UNITS

    d = per_desc.get(f"{WORKLOAD}/ingest_cycle/lsh", {})
    for key, unit in METRIC_UNITS.items():
        run.layer(f"spark.{key}", d.get(key, 0.0), unit)
