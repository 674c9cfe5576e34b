"""Index advisor: measure the (recall, candidate-fraction) frontier.

The reference hardcodes a per-dataset index config in its benchmark
harness (annbench_test.go:215-260 — Fashion-MNIST gets NTrees=10,
NYTimes gets NTrees=200) and its README concedes the angular config
still underperforms (README.md:164-172). The SCALE.md angular probes
quantified why: whether ANY index prunes is a property of the DATA
(near-uniform high-dim corpora concentrate nothing), so the choice
scan-vs-LSH-vs-IVF must be measured per corpus, not assumed.

``advisor_report`` turns that offline judgment into an operator: train
each candidate config on the corpus (or a sample — at 100 TB you run
this on one partition's worth), measure ε-recall against the exact
oracle and the candidate fraction (the scan-cost proxy that is
hardware- and cache-independent), and recommend the cheapest config
inside the recall band — falling back to the exact scan, which is
always in-band at fraction 1.0. Everything is seeded/deterministic, so
the report is reproducible run-to-run (driver rows-only checkable).

Scale shape: training cost is the probe corpus size times the config
count — bounded, driver-chosen; the verdict transfers to the full
corpus because candidate fraction is scale-free for constant
k_min_vecs (SCALE.md sample_size scaling row) and nprobe/n_cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from vector_search_go_spark.config import LshConfig


def ivf_candidate_fraction(queries, cents, cells, metric, nprobe, n, nq) -> float:
    """Probed-cell member rows / (n_queries * corpus): the scan-cost
    proxy for an IVF config. Shared by advisor_report and
    tools/scale_probe.py --angular-ivf so the two never drift."""
    from vector_search_go_spark.functions.metrics import metric_dist
    from vector_search_go_spark.operators.topk import topk_per_group

    cell_sizes = cells.groupBy("cell").count()
    qprobe = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cdist", metric_dist(metric, F.col("qvec"), F.col("cvec"))
    )
    probes = topk_per_group(
        qprobe, ["query_id"], "cdist", nprobe, tiebreak_cols=["cid"],
        rank_name="_r",
    ).select("query_id", F.col("cid").alias("cell"))
    n_cand = (
        probes.join(F.broadcast(cell_sizes), on="cell")
        .agg(F.sum("count"))
        .collect()[0][0]
        or 0
    )
    return n_cand / (nq * n)


def _lsh_point(spark, corpus, queries, n, nq, metric, k, threshold,
               n_trees, k_min_vecs, seed, sample_size, pins):
    from vector_search_go_spark.lsh.index import LshIndex, _hash_probe_udf
    from vector_search_go_spark.lsh.search import lsh_search

    dims = len(corpus.select("vec").head()["vec"])
    cfg = LshConfig(
        dims=dims, n_trees=n_trees, k_min_vecs=k_min_vecs,
        is_angular=(metric == "cosine"), seed=seed, sample_size=sample_size,
    )
    idx = LshIndex.train(spark, corpus, cfg)
    idx.buckets = idx.buckets.cache()
    pins.append(idx.buckets)
    hash_vec = _hash_probe_udf(spark, idx.forest, with_probes=True)
    qh = (
        queries.select(
            "query_id", F.posexplode(hash_vec("qvec")).alias("pos", "hash")
        )
        .select(
            "query_id",
            (F.col("pos") % cfg.n_trees).cast("int").alias("tree"),
            "hash",
        )
        .dropDuplicates(["query_id", "tree", "hash"])
    )
    n_cand = (
        idx.buckets.join(F.broadcast(qh), on=["tree", "hash"])
        .select("query_id", "id")
        .dropDuplicates()
        .count()
    )
    pred = lsh_search(idx, queries, metric=metric, k=k, threshold=threshold)
    return pred, n_cand / (nq * n), f"trees={n_trees},k_min={k_min_vecs}"


def _ivf_point(spark, corpus, queries, n, nq, metric, k, threshold,
               n_cells, nprobe, pins):
    from vector_search_go_spark.operators.ann_ivf import assign_cells, ivf_search
    from vector_search_go_spark.operators.kmeans import kmeans_fit

    dims = len(corpus.select("vec").head()["vec"])
    cents = kmeans_fit(corpus, n_cells, iters=3, dim=dims)
    cents = spark.createDataFrame(cents.collect(), cents.schema).cache()
    cells = assign_cells(corpus, cents, metric=metric).cache()
    pins.extend([cents, cells])
    frac = ivf_candidate_fraction(queries, cents, cells, metric, nprobe, n, nq)
    pred = ivf_search(
        queries, cells, cents, metric=metric, k=k, nprobe=nprobe
    )
    if threshold is not None:
        pred = pred.filter(F.col("dist") <= F.lit(float(threshold)))
    return pred, frac, f"cells={n_cells},nprobe={nprobe}"


def advisor_report(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    metric: str = "cosine",
    k: int = 10,
    threshold: float | None = None,
    eps: float = 0.05,
    recall_band: float = 0.85,
    lsh_configs: tuple = ((8, 50), (16, 50)),
    ivf_configs: tuple = ((16, 2), (16, 4)),
    seed: int = 42,
    sample_size: int = 20_000,
    max_useful_frac: float | None = None,
) -> DataFrame:
    """corpus(id, vec) x queries(query_id, qvec) -> one report row per
    candidate config: (family, config, eps_recall, cand_frac, in_band,
    recommended). ``recommended`` marks the in-band config with the
    smallest candidate fraction ((cand_frac, family, config)
    lexicographic tie-break — deterministic); the exact scan row
    (recall 1.0, fraction 1.0) is always present, so a corpus where no
    index prunes in-band recommends the scan — the SCALE.md angular
    conclusion, as an operator.

    ``max_useful_frac``: break-even gate on how much an index must
    prune before it can beat the scan at all. An in-band config whose
    candidate fraction exceeds it is reported but NOT recommendable
    (the scan row is exempt — it IS the fallback). Rationale is
    measured, not assumed: at frac 0.028 (Fashion-MNIST shape) the
    index beat the exact scan 23x; at frac 0.447 (the GloVe-shape
    probe) the scan beat the index 13x in wall-clock despite in-band
    recall, because a weakly-pruning index still pays full hashing,
    bucket-join, and a trees-factor store blow-up (SCALE.md GloVe
    row). None (default) disables the gate — fraction-only ranking,
    the pre-gate behavior."""
    rows = _advisor_measure(
        spark, corpus, queries, metric, k, threshold, eps, lsh_configs,
        ivf_configs, seed, sample_size,
    )
    return spark.createDataFrame(
        _advisor_decide(rows, recall_band, max_useful_frac),
        "family string, config string, eps_recall double, "
        "cand_frac double, in_band boolean, recommended boolean",
    )


def _advisor_measure(spark, corpus, queries, metric, k, threshold, eps,
                     lsh_configs, ivf_configs, seed, sample_size) -> list:
    """advisor_report's measurement: one (family, config, eps_recall,
    cand_frac) tuple per candidate config, the exact scan first. All
    the Spark work (exact truth, training, candidate counts) is here."""
    from vector_search_go_spark.operators.exact_knn import exact_knn_join
    from vector_search_go_spark.operators.recall import (
        distance_based_precision_recall,
        mean_precision_recall,
    )

    n = corpus.count()
    nq = queries.count()
    truth = exact_knn_join(
        queries, corpus, metric=metric, k=k, threshold=threshold
    ).cache()
    truth.count()
    pins = [truth]  # unpersisted before returning — a long-lived
    # session re-tuning per corpus must not accumulate storage memory

    rows = [("exact", "scan", 1.0, 1.0)]
    for n_trees, k_min in lsh_configs:
        pred, frac, label = _lsh_point(
            spark, corpus, queries, n, nq, metric, k, threshold,
            n_trees, k_min, seed, sample_size, pins,
        )
        _, r = mean_precision_recall(
            distance_based_precision_recall(pred, truth, eps)
        )
        rows.append(("lsh", label, float(r), float(frac)))
    for n_cells, nprobe in ivf_configs:
        pred, frac, label = _ivf_point(
            spark, corpus, queries, n, nq, metric, k, threshold,
            n_cells, nprobe, pins,
        )
        _, r = mean_precision_recall(
            distance_based_precision_recall(pred, truth, eps)
        )
        rows.append(("ivf", label, float(r), float(frac)))

    for df in pins:
        df.unpersist()
    return rows


_ReportRow = Row(
    "family", "config", "eps_recall", "cand_frac", "in_band", "recommended"
)


def _advisor_decide(rows: list, recall_band: float,
                    max_useful_frac: float | None) -> list:
    """advisor_report's decision over _advisor_measure's rows, pure (no
    Spark): one report Row per measured config, ``recommended`` on the
    cheapest eligible one."""

    def _eligible(fam: str, rec: float, frac: float) -> bool:
        if rec < recall_band:
            return False
        if max_useful_frac is None or fam == "exact":
            return True
        return frac <= max_useful_frac

    in_band = [row for row in rows if _eligible(row[0], row[2], row[3])]
    best = min(in_band, key=lambda row: (row[3], row[0], row[1]))
    return [
        _ReportRow(fam, cfg, rec, frac, rec >= recall_band,
                   (fam, cfg) == (best[0], best[1]))
        for fam, cfg, rec, frac in rows
    ]


def serving_batch_advisor(
    spark,
    path: str,
    Q,
    k: int = 10,
    batch_sizes: tuple = (1, 8, 32),
    persist: bool = False,
    reader_kwargs: dict | None = None,
    **search_kwargs,
) -> dict:
    """Measure the serving tier's batch-size trade ON the store at
    ``path`` and recommend the batch that minimizes per-query latency —
    the r7 SCALE.md diagnosis (sharded-IVFADC batch inverted against
    single-query on one disk) turned into an operator decision, exactly
    like the scan-vs-index advisor turned the GloVe-shape wall-clock
    loss into a gate.

    Protocol: open the store's own reader (serve.sharded.open_reader —
    local or sharded, any family), warm it, then for each batch size
    run ``search_many`` over disjoint groups of the probe queries and
    take the median per-query ms (batch 1 is what ``search`` runs). The
    recommendation is the argmin median with ties to the SMALLER batch
    (smaller batches bound tail latency for free). ``Q`` is the
    caller's probe sample — bounded (hundreds), never the corpus.

    ``persist=True`` merges ``recommended_batch`` (+ the measured table)
    into the layout-level ``store_meta`` the same way maintain_ivfpq
    persists the retuned shortlist — serving loops read it instead of
    guessing. Returns {"rows": [(batch, ms_q_median)...],
    "recommended_batch": int}."""
    import time as _time

    import numpy as np

    from vector_search_go_spark.serve.sharded import open_reader

    Qm = np.asarray(Q, dtype=np.float64)
    max_b = max(int(b) for b in batch_sizes)
    if len(Qm) < 2 * max_b:
        raise ValueError(
            f"need >= {2 * max_b} probe queries for batch_sizes "
            f"{tuple(batch_sizes)}; got {len(Qm)}"
        )
    reader = open_reader(path, **(reader_kwargs or {}))
    try:
        reader.search_many(
            Qm[:max_b], k=k, query_ids=list(range(max_b)), **search_kwargs
        )  # warm: model load, file indexes, page cache
        rows = []
        for b in sorted(int(x) for x in batch_sizes):
            per_q = []
            for g0 in range(0, len(Qm) - b + 1, b):
                t0 = _time.perf_counter()
                reader.search_many(
                    Qm[g0 : g0 + b], k=k,
                    query_ids=list(range(b)), **search_kwargs,
                )
                per_q.append((_time.perf_counter() - t0) * 1000 / b)
            per_q.sort()
            rows.append((b, float(per_q[len(per_q) // 2])))
    finally:
        close = getattr(reader, "close", None)
        if close is not None:
            close()
    best = min(rows, key=lambda r: (r[1], r[0]))[0]
    out = {"rows": rows, "recommended_batch": int(best)}
    if persist:
        import json as _json

        from vector_search_go_spark.operators.pq import read_store_meta_any

        # merge into the EXISTING meta for every path scheme (ADVICE
        # r9: the local-only merge dropped family/metric on remote
        # stores, breaking open_reader's family detection there)
        meta = read_store_meta_any(spark, path)
        meta["recommended_batch"] = int(best)
        meta["batch_ms_per_query"] = {str(b): m for b, m in rows}
        spark.createDataFrame(
            [(_json.dumps(meta),)], "meta_json string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
        spark.catalog.refreshByPath(f"{path}/store_meta")
        from vector_search_go_spark.operators.pq import (
            invalidate_stored_shortlist,
        )

        invalidate_stored_shortlist(path)
    return out


def frontier_pick(
    rows: list,
    target_recall: float = 0.9,
    target_ms: float | None = None,
) -> dict:
    """The frontier advisor's DECISION PROCEDURE, factored pure so the
    driver-checked verdict entry can gate it on measured rows without
    re-measuring. ``rows`` = [(nprobe, shortlist, recall, ms_q), ...].

    Recall-target mode (``target_ms=None``): cheapest point whose
    recall >= target_recall; none qualifying -> the max-recall point
    (ties to cheaper).

    Latency-budget mode (``target_ms`` set; VERDICT r9 item 4 — the
    production inverse "best recall under X ms/q"): max-recall point
    among those with ms_q <= target_ms (ties: lower latency, then
    smaller knobs); none within budget -> the min-latency point (ties:
    higher recall, then smaller knobs), reported with
    ``latency_met=False``. ``target_met`` still reports whether the
    picked point clears target_recall — a budget so tight it forces
    low recall should be visible, not silent."""
    if target_ms is not None:
        within = [r for r in rows if r[3] <= float(target_ms)]
        if within:
            best = max(within, key=lambda r: (r[2], -r[3], -r[0], -r[1]))
            latency_met = True
        else:
            best = min(rows, key=lambda r: (r[3], -r[2], r[0], r[1]))
            latency_met = False
    else:
        meeting = [r for r in rows if r[2] >= target_recall]
        if meeting:
            best = min(meeting, key=lambda r: (r[3], r[0], r[1]))
        else:
            best = max(rows, key=lambda r: (r[2], -r[3], -r[0], -r[1]))
        latency_met = True
    return {
        "recommended_nprobe": int(best[0]),
        "recommended_shortlist": int(best[1]),
        "recall_at_recommended": float(best[2]),
        "ms_at_recommended": float(best[3]),
        "target_recall": float(target_recall),
        "target_met": bool(best[2] >= target_recall),
        "latency_met": bool(latency_met),
        **({"target_ms": float(target_ms)} if target_ms is not None else {}),
    }


def recall_frontier_advisor(
    spark,
    path: str,
    k: int = 10,
    n_queries: int = 20,
    nprobes: tuple = (4, 8, 16),
    shortlists: tuple = (20, 100),
    target_recall: float = 0.9,
    target_ms: float | None = None,
    seed: int = 7,
    persist: bool = False,
    reader_kwargs: dict | None = None,
) -> dict:
    """Measure an IVFADC store's (nprobe, shortlist) -> (recall@k,
    ms/q) frontier ON the store's own data and recommend the cheapest
    point meeting ``target_recall`` (VERDICT r8 next item 5 — the
    adc_shortlist_probe retune generalized to the full two-knob
    frontier, with recall measured, not inferred from ADC ranks).

    Protocol: ``n_queries`` member queries are evenly-id-spaced rows of
    an id-hash-thinned sample of the store's vectors (the
    adc_shortlist_probe sampling — a pure function of the ids,
    layout-independent); ground truth is the exact top-k over the FULL
    store vectors for those queries (one fan-in Arrow job — bounded by
    n_queries, distributed over the corpus); each grid point then runs
    the store's own serving reader (open_reader — local or sharded)
    and reports mean recall@k (id-set intersection / k) and median
    ms/q. Recommendation (frontier_pick): cheapest (nprobe, shortlist)
    whose recall >= target; if none qualifies, the max-recall point
    (ties to cheaper). ``target_ms`` flips to the latency-budget
    inverse — best recall among points with ms/q <= target_ms (r9
    item 4; ``latency_met=False`` marks a budget no grid point fits).
    ``persist=True`` merges ``recommended_nprobe`` /
    ``recommended_shortlist`` and the frontier table into store_meta —
    shortlist=None serving then runs at the measured point, exactly
    like the maintain_ivfpq retune.

    Scale shape: the ground-truth job is O(n_store * dims * n_queries)
    once per advisory run (maintenance cadence, not query path); the
    frontier measurement is |grid| * n_queries reader calls against
    model-sized state. Nothing corpus-sized reaches the driver.

    Knob boundary: the advisor tunes the two SERVING-time knobs only.
    The coarse CELL COUNT is frozen at build time (it shapes the
    store's partition layout and every shard's codes) — size it up
    front with pq.default_k_cells (~sqrt(n) clamped; measured in
    SCALE.md's r10 k_cells sweep); changing it means a rebuild
    (maintain_ivfpq), not a retune."""
    import time as _time

    import numpy as np

    from vector_search_go_spark.operators.exact_knn import exact_knn_join
    from vector_search_go_spark.serve.local_reader import _read_store_meta
    from vector_search_go_spark.serve.sharded import (
        open_reader,
        read_shards_meta,
        union_shard_component,
    )

    smeta = read_shards_meta(path)
    if smeta is not None:
        vectors = union_shard_component(
            spark, path, int(smeta["n_shards"]), "vectors"
        ).select("id", "vec")
        family = smeta.get("family")
    else:
        from vector_search_go_spark.streaming.delete import mask_tombstones

        vectors = mask_tombstones(
            spark, path, spark.read.parquet(f"{path}/vectors")
        ).select("id", "vec")
        family = _read_store_meta(path).get("family")
        if family is None:
            # legacy layout without store_meta: the discriminating
            # component (the open_reader rules) decides
            import os as _os

            family = "ivfpq" if _os.path.exists(
                _os.path.join(path, "codebook")
            ) else "non-ivfpq layout"
    if family != "ivfpq":
        raise ValueError(
            f"recall_frontier_advisor tunes (nprobe, shortlist) — an "
            f"IVFADC knob pair; store at {path!r} is family {family!r}"
        )

    # evenly-id-spaced member queries from a bounded deterministic
    # sample (pure function of ids; sample_rows >> n_queries so the
    # spacing covers the id range)
    sample = (
        vectors.select("id")
        .orderBy(F.xxhash64("id", F.lit(int(seed))), "id")
        .limit(max(4 * n_queries, 64))
        .collect()
    )
    qids = sorted(int(r["id"]) for r in sample)
    step = max(1, len(qids) // n_queries)
    qids = qids[::step][:n_queries]
    qdf = spark.createDataFrame([(int(i),) for i in qids], "query_id bigint")
    queries = (
        vectors.join(F.broadcast(qdf), vectors["id"] == qdf["query_id"])
        .select("query_id", F.col("vec").alias("qvec"))
    )
    qrows = queries.collect()
    Q = {int(r["query_id"]): np.asarray(r["qvec"], dtype=np.float64)
         for r in qrows}

    truth_rows = exact_knn_join(queries, vectors, metric="l2", k=k).collect()
    truth: dict[int, set] = {}
    for r in truth_rows:
        truth.setdefault(int(r["query_id"]), set()).add(int(r["id"]))

    reader = open_reader(path, **(reader_kwargs or {}))
    rows = []
    try:
        reader.search(Q[qids[0]], k=k, nprobe=int(nprobes[0]),
                      shortlist=int(shortlists[0]))  # warm
        for nprobe in sorted(int(x) for x in nprobes):
            for shortlist in sorted(int(x) for x in shortlists):
                recs, lats = [], []
                for qid in qids:
                    t0 = _time.perf_counter()
                    top = reader.search(
                        Q[qid], k=k, nprobe=nprobe, shortlist=shortlist
                    )
                    lats.append((_time.perf_counter() - t0) * 1000)
                    got = set(int(i) for i in top["id"][:k])
                    recs.append(len(got & truth[qid]) / k)
                lats.sort()
                rows.append(
                    (nprobe, shortlist, float(np.mean(recs)),
                     float(lats[len(lats) // 2]))
                )
    finally:
        close = getattr(reader, "close", None)
        if close is not None:
            close()

    out = {
        "rows": rows,
        **frontier_pick(rows, target_recall=target_recall, target_ms=target_ms),
    }
    if persist:
        import json as _json

        from vector_search_go_spark.operators.pq import read_store_meta_any

        # merge into the EXISTING meta for every path scheme (ADVICE r9)
        meta = read_store_meta_any(spark, path)
        meta["recommended_nprobe"] = out["recommended_nprobe"]
        meta["recommended_shortlist"] = out["recommended_shortlist"]
        meta["recall_frontier"] = [
            {"nprobe": a, "shortlist": b, "recall": c, "ms_q": d}
            for a, b, c, d in rows
        ]
        spark.createDataFrame(
            [(_json.dumps(meta),)], "meta_json string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
        spark.catalog.refreshByPath(f"{path}/store_meta")
        from vector_search_go_spark.operators.pq import (
            invalidate_stored_shortlist,
        )

        invalidate_stored_shortlist(path)
    return out
