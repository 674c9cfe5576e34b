"""``ann_100k``: vector-family registry entries over a generated corpus.

One clustered 100k x 64 ``embeddings.parquet`` is written per run. Its
ids are shaped so the entries' own splits stay fixed as the corpus
grows: ``N_QUERIES`` ids with ``vec_id % 50 == 0`` (the query batch) and
``N_CELLS`` with ``vec_id % 7 == 3`` (the IVF centroid pick). At this
size the per-job overhead is a small share of each call and the
Arrow/pandas scan kernels and vector decode dominate.

A run makes one cold pass over the entries with an empty model store,
then ``SETTLE_PASSES`` untimed settling passes: calls after the cold
one run up to ~50% slower than later ones while the JVM compiles the
scan and the Python workers settle, and that settles by call count, not
by time, so a slow host gets the same number. Timed warm passes follow
until the time box ends and at least ``MIN_PASSES`` ran; below 20
samples the tail would be the slowest call.
Every call is the entry function (phase ``build``: plan construction
plus the collects it runs before returning) followed by the bench action (phase
``exec``): ``count()``. Untimed calls run under the job description
``{workload}/{entry}/untimed``, timed ones under
``{workload}/{entry}/build`` and ``.../exec``. The cold call of
``knn_exact_l2`` fetches its ids instead, and recall@10 against numpy
exact top-10 is checked per query; its mean is ``recall_mean``.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from measure import median, recall_at_k

WORKLOAD = "ann_100k"
N = 100_000
# 20 queries x 100k rows keeps one warm call near 1-2 s on 4 cores.
N_QUERIES = 20
# The IVF entries probe 140 cells; 300 cells keeps their scan near half
# the corpus, as at sf0.1.
N_CELLS = 300
K = 10
SETTLE_PASSES = 8
MIN_PASSES = 20

# entry -> (operator module it exercises, rows it returns). Left out
# because its calls do not fit the run budget at this size on 4 cores
# (the budget holds a cold, SETTLE_PASSES settling and MIN_PASSES timed
# calls of each entry):
# lsh_* (cold forest build ~100 s), ann_ivf_cosine and
# ivf_recall_vs_exact (~20 s warm), pq_* (~10 s warm), ivf_pq_* (~145 s
# cold k-means), kmeans_train_centroids (~32 s cold k-means),
# sq8_search_rerank and sq8_recall_vs_exact (~7 s warm, ~10 s cold);
# knn_exact_cosine runs the same scan as knn_exact_l2 at the same cost.
# With no model-training entry left, a run never touches the model store.
ENTRIES = {
    "knn_exact_l2": ("operators.exact_knn", N_QUERIES * K),
}
# its cold call's ids are checked against numpy exact top-k
VERIFIED = "knn_exact_l2"
MODULES = tuple(dict.fromkeys(module for module, _rows in ENTRIES.values()))


def make_inputs(run, path: str) -> None:
    gen.write_ann_dir(path, run.seed, N, N_QUERIES, N_CELLS)


def _call(run, fn, name: str, sf_dir: str, n: int, timed: bool = True) -> dict:
    """One entry call: build then exec, each under its own job group;
    returns the sample with its Spark counts. Call 0 is the cold call."""
    rec: dict = {"entry": name, "n": n}
    gid = f"{WORKLOAD}/{name}/{n}"
    phases = ("build", "exec") if timed else ("untimed", "untimed")
    with run.tracer.span(f"queries.{name}", op=gid):
        with run.tracer.span("queries.build"), \
                run.job_group(f"{gid}/build", f"{WORKLOAD}/{name}/{phases[0]}"):
            t0 = time.perf_counter()
            df = fn(run.spark, sf_dir)
            t1 = time.perf_counter()
        with run.tracer.span("queries.exec"), \
                run.job_group(f"{gid}/exec", f"{WORKLOAD}/{name}/{phases[1]}"):
            if n == 0 and name == VERIFIED:
                # the cold call's action also fetches the ids to verify
                rec["ids"] = df.select("query_id", "id").collect()
                value = len(rec["ids"])
            else:
                value = df.count()
            t2 = time.perf_counter()
    rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, value=value)
    for phase in ("build", "exec"):
        c = run.group_counts(f"{gid}/{phase}")
        for k, v in c.items():
            rec[k] = rec.get(k, 0) + v
    return rec


def _check_rows(run, rec: dict) -> None:
    want = ENTRIES[rec["entry"]][1]
    run.check(rec["value"] == want, f"{rec['entry']} call {rec['n']}: {rec['value']} rows, want {want}")


def main(run) -> None:
    from vector_search_go_spark import registry

    sf_dir = os.path.join(run.work, "sf_ann")
    run.setup(lambda i: make_inputs(run, sf_dir + (f"_rep{i}" if i else "")))
    qs = registry.queries()
    missing = [e for e in ENTRIES if e not in qs]
    if missing:
        raise RuntimeError(f"entries not registered: {missing}")

    # cold pass: empty model store, first Python workers, first plans
    t0 = time.perf_counter()
    cold = []
    with run.tracer.span("queries.cold_pass"):
        for name in ENTRIES:
            rec = _call(run, qs[name], name, sf_dir, 0, timed=False)
            cold.append(rec)
            run.attempt()
            _check_rows(run, rec)
    build_s = time.perf_counter() - t0
    recalls = _verify_exact(run, cold[list(ENTRIES).index(VERIFIED)].pop("ids"), sf_dir)
    with run.tracer.span("queries.settle_passes"):
        settle = [
            _call(run, qs[name], name, sf_dir, n, timed=False)
            for n in range(1, SETTLE_PASSES + 1) for name in ENTRIES
        ]
    for rec in settle:
        run.attempt()
        _check_rows(run, rec)

    # timed warm passes, closed loop, until the time box is spent
    samples: list[dict] = []
    passes: list[float] = []
    order = list(ENTRIES)
    rng = np.random.default_rng([run.seed, 7])
    t_loop = time.perf_counter()
    n = SETTLE_PASSES + 1
    while True:
        rng.shuffle(order)
        tp = time.perf_counter()
        with run.tracer.span("queries.warm_pass"):
            for name in order:
                rec = _call(run, qs[name], name, sf_dir, n)
                samples.append(rec)
                run.attempt()
                _check_rows(run, rec)
        passes.append(time.perf_counter() - tp)
        n += 1
        if time.perf_counter() - t_loop >= run.seconds and len(passes) >= MIN_PASSES:
            break
    timed_s = time.perf_counter() - t_loop

    per_entry = {
        name: [r for r in samples if r["entry"] == name] for name in ENTRIES
    }
    med = {name: median([r["wall_s"] for r in rs]) for name, rs in per_entry.items()}
    walls = [r["wall_s"] for r in samples]
    run.end_to_end(
        total_s=sum(med.values()),
        ops=walls,
        ops_per_s=len(samples) / timed_s,
        recall_mean=float(np.mean(recalls)),
    )
    run.layer("queries.cold_pass_s", build_s, "s")
    run.layer("queries.build_s", sum(median([r["build_s"] for r in rs]) for rs in per_entry.values()), "s")
    run.layer("queries.exec_s", sum(median([r["exec_s"] for r in rs]) for rs in per_entry.values()), "s")
    for key in ("jobs", "stages", "tasks"):
        run.layer(f"spark.{key}", sum(median([r[key] for r in rs]) for rs in per_entry.values()), "count")
    for name, rs in per_entry.items():
        run.layer(f"entry.{name}.s", med[name], "s")
        for key in ("jobs", "stages", "tasks"):
            run.layer(f"entry.{name}.{key}", median([r[key] for r in rs]), "count")
    run.artifact.update(
        entries={name: ENTRIES[name][0] for name in ENTRIES},
        cold=cold, settle=settle, samples=samples, passes=passes,
        shape={"n": N, "dims": gen.DIMS, "n_queries": N_QUERIES, "n_cells": N_CELLS},
    )
    run.post_event_log = lambda per_desc: _event_log_layers(run, per_desc, per_entry)


def _event_log_layers(run, per_desc: dict, per_entry: dict) -> None:
    """Traced run only: executor and Python-worker metrics per warm
    pass, summed by the operator module each entry exercises, and the
    driver gap (entry wall time not covered by any Spark job)."""
    from sparkstats import METRIC_UNITS

    tot = dict.fromkeys(METRIC_UNITS, 0.0)
    mod_s = dict.fromkeys(MODULES, 0.0)
    mod_py = dict.fromkeys(MODULES, 0.0)
    for name, (module, _rows) in ENTRIES.items():
        calls = len(per_entry[name])
        for phase in ("build", "exec"):
            d = per_desc.get(f"{WORKLOAD}/{name}/{phase}")
            if d is None:
                continue
            for k in METRIC_UNITS:
                tot[k] += d[k] / calls
            mod_py[module] += d["python_worker_s"] / calls
        mod_s[module] += run.layers[f"entry.{name}.s"]["value"]
    for k, unit in METRIC_UNITS.items():
        run.layer(f"spark.{k}", tot[k], unit)
    for m in MODULES:
        run.layer(f"{m}.s", mod_s[m], "s")
        run.layer(f"{m}.python_worker_s", mod_py[m], "s")
    timed_ops = {f"{WORKLOAD}/{r['entry']}/{r['n']}" for rs in per_entry.values() for r in rs}
    run.layer("queries.driver_gap_s", _driver_gap(run, per_desc, timed_ops), "s")


def _driver_gap(run, per_desc: dict, timed_ops: set) -> float:
    """Median over timed calls of (call wall - time covered by its
    jobs), summed over entries."""
    from spans import covered

    intervals = []
    for d in per_desc.values():
        intervals.extend(d["intervals"])
    off = run.tracer_epoch_offset
    iv = [(a - off, b - off) for a, b in intervals]
    gaps: dict[str, list[float]] = {}
    for s in run.tracer.spans:
        if s["name"].startswith("queries.") and s["name"][8:] in ENTRIES and s["op"] in timed_ops:
            gaps.setdefault(s["name"][8:], []).append(
                (s["end"] - s["start"]) - covered(iv, s["start"], s["end"])
            )
    return sum(median(v) for v in gaps.values())


def _verify_exact(run, rows, sf_dir: str) -> list[float]:
    """The exact L2 entry's top-10 ids (``rows`` of query_id, id) equal
    numpy's, query by query; returns each query's recall@10."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = tbl.column("vec_id").to_numpy()
    X = np.asarray(tbl.column("embedding").combine_chunks().flatten()).astype(np.float64).reshape(len(ids), -1)
    qmask = ids % 50 == 0
    truth = gen.exact_topk(X[qmask], X[~qmask], ids[~qmask], K)
    got: dict[int, list[int]] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append(int(r["id"]))
    recalls = []
    for qid, t in zip(ids[qmask], truth):
        run.attempt()
        recalls.append(recall_at_k(got.get(int(qid), []), t))
        run.check(recalls[-1] == 1.0, f"{VERIFIED} query {qid} differs from numpy")
    return recalls
