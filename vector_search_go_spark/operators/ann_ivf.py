"""IVF-style ANN: coarse quantization by nearest-centroid cells.

The scale-path companion to brute-force KNN (exact_knn.py) and the
reference-faithful tree LSH (lsh/): corpus vectors are assigned to the
nearest of C centroids (one broadcast pass), queries probe the nprobe
nearest cells, and exact distance runs only inside probed cells.

Centroids here are a deterministic subset of the corpus (every
``centroid_mod``-th vector) rather than k-means — keeps the operator
seed-free and oracle-expressible; swapping in trained centroids changes
nothing structurally.

At 100 TB: the cell assignment is a broadcast-join projection (no
shuffle of the corpus beyond one write partitioned by cell), and search
cost is |probed cells| not |corpus|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import metric_dist, seq_dists
from vector_search_go_spark.operators.topk import topk_per_group


def assign_cells(
    corpus: DataFrame, centroids: DataFrame, metric: str = "cosine",
) -> DataFrame:
    """corpus(id, vec) x centroids(cid, cvec) -> (id, vec, cell):
    nearest centroid per vector, (dist, cid) tie-break. Never shuffles
    or aggregates the corpus — one map stage running the Arrow-batched
    numpy argmin (operators.argmin.argmin_id_arrow), whose distances
    are metric_dist's fold bit for bit; ~30x the interpreted
    higher-order-lambda argmin at the 1M probe."""
    from vector_search_go_spark.io import ensure_parallelism
    from vector_search_go_spark.operators.argmin import argmin_id_arrow

    nearest = argmin_id_arrow(centroids, metric=metric)
    return ensure_parallelism(corpus).select(
        "id", "vec", nearest(F.col("vec")).alias("cell")
    )


def probe_cells(Q, model, metric: str, nprobe: int) -> list[list[int]]:
    """Driver-side probe selection over the KB-sized centroid model
    ``model`` = (cids, centroid matrix) (load_ivf_model /
    argmin.collect_centroids): per row of the query matrix ``Q``, the
    ``nprobe`` nearest cell ids under the exact (dist, cid) order the
    crossJoin + rank-window path produces — functions.metrics.seq_dists
    distances, so the selected cell sets are bit-identical (parity
    pinned in tests/test_argmin_parity.py and the ivf/ivfpq oracle
    hashes).

    Probe selection is query-batch x centroids work (rows x KBs); it
    serves the Spark search paths, the point paths and the local
    readers alike — running it through the cluster cost a crossJoin +
    window shuffle + broadcast-build job per invocation (guide §8:
    decide with small rows, move heavy rows once). Returns one cell
    list per query row, in row order."""
    import numpy as np

    if len(Q) == 0:
        return []
    cids, C = model
    cids = np.asarray(cids)
    D = seq_dists(metric, np.asarray(Q, dtype=np.float64)[:, None], C[None])
    return [[int(cids[j]) for j in np.lexsort((cids, d))[:nprobe]] for d in D]


def ivf_scores_fused(
    corpus: DataFrame,
    centroids,
    cell_to_queries: dict,
    qrows: list,
    metric: str = "cosine",
    local_topk: int | None = None,
    truth_k: int | None = None,
):
    """(query_id, id, dist) over the IVF candidate set with coarse
    assignment and candidate scoring FUSED into one Arrow stage over
    the corpus (argmin.scan_topk, guide §4.2) — replaces the
    assign_cells projection + broadcast(probes) join +
    broadcast(queries) join + pairwise_dist_udf chain, which crossed
    the Python boundary twice and built two broadcasts per invocation.

    Bit-identical piece by piece: assignment is argmin_id_arrow's
    first-min argmin over ascending cids in the same distance domain
    (sqrt'd L2 / cosine — tests/test_argmin_parity.py); candidate
    distances are seq_dists over the (row, query) mesh, the same
    per-pair arithmetic as pairwise_dist_udf; ``local_topk`` is the
    exact per-batch (dist, id) truncation (selection-monotone for the
    downstream topk(k)).

    ``centroids`` = DataFrame or preloaded (cids, matrix);
    ``cell_to_queries`` maps cell id -> probing query ids
    (probe_cells's inverse); ``qrows`` the collected query batch.
    ``truth_k``: the scan also feeds the exact-KNN truth chain and the
    result is an (approx, truth) pair (see scan_topk)."""
    import numpy as np

    from vector_search_go_spark.operators.argmin import (
        collect_centroids,
        local_topk_flat,
        nearest_pos,
        query_matrix,
        scan_topk,
    )

    c2q = {int(c): [int(q) for q in qs] for c, qs in cell_to_queries.items()}

    def scorer(rows):
        qids, Q = query_matrix(rows)
        qpos = {int(q): i for i, q in enumerate(qids)}
        if isinstance(centroids, tuple):
            cids, cmat = centroids
        else:
            cids, cmat = collect_centroids(centroids)
        cids = np.asarray(cids, dtype=np.int64)

        def score(V, ids_b):
            # assignment in the same distance domain as
            # argmin_id_arrow: sqrt'd L2 / cosine, first-min over
            # ascending cids
            cells = cids[nearest_pos(metric, V, cmat)]
            out_q, out_i, out_d = [], [], []
            for c in np.unique(cells):
                qs = c2q.get(int(c))
                if not qs:
                    continue
                m = cells == c
                idm = ids_b[m]
                Qm = Q[[qpos[q] for q in qs]]
                Dm = seq_dists(metric, V[m][:, None], Qm[None])
                for jj, q in enumerate(qs):
                    out_q.append(np.full(len(idm), q, dtype=np.int64))
                    out_i.append(idm)
                    out_d.append(Dm[:, jj])
            if not out_q:
                return np.empty(0, dtype=np.int64), ids_b[:0], np.empty(0)
            q_arr = np.concatenate(out_q)
            i_arr = np.concatenate(out_i)
            d_arr = np.concatenate(out_d)
            if local_topk is None:
                return q_arr, i_arr, d_arr
            keep = local_topk_flat(q_arr, i_arr, d_arr, local_topk)
            return q_arr[keep], i_arr[keep], d_arr[keep]

        return score

    return scan_topk(corpus, qrows, scorer, "dist", metric, truth_k)


def ivf_search(
    queries: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    metric: str = "cosine",
    k: int = 10,
    nprobe: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """queries(query_id, qvec) -> (query_id, id, dist, rn), probing the
    nprobe nearest cells per query.

    ``broadcast_queries`` (the lsh_search contract flag, VERDICT r11
    what's-wrong #1) picks where probes are selected:

    - True (driver probe): the query batch is collected and probes are
      selected driver-side (probe_cells) — a pure function of the
      query batch and the KB-sized centroid model. Materializing the
      probe list as a local relation removes a crossJoin + rank-window
      shuffle + broadcast-build job per invocation while shipping the
      same rows to the same broadcast join. Correct only when queries
      are the broadcast-small side.
    - False (distributed probe): probes are selected with the crossJoin
      + rank-window plan over the same (cdist, cid) order — no driver
      collect anywhere, for query batches that must stay distributed.

    Both score candidates (every probed-cell member per query) with the
    Arrow pairwise kernel (seq_dists, metric_dist's numpy twin), so
    the two paths return bit-identical rows."""
    from vector_search_go_spark.operators.argmin import pairwise_dist_udf

    if broadcast_queries:
        from pyspark.sql.types import StructField, StructType

        from vector_search_go_spark.operators.argmin import collect_centroids

        qrows = sorted(
            queries.select("query_id", "qvec").collect(),
            key=lambda r: r["query_id"],
        )
        probed = probe_cells(
            [r["qvec"] for r in qrows], collect_centroids(centroids), metric,
            nprobe,
        )
        # the local probe relation carries keys only — qvec joins back
        # from the broadcast query table below, so |queries| x nprobe
        # vectors never round-trip through the driver
        schema = StructType(
            [
                queries.select("query_id").schema.fields[0],
                StructField("cell", centroids.schema["cid"].dataType, True),
            ]
        )
        probes = queries.sparkSession.createDataFrame(
            [(r["query_id"], c) for r, cs in zip(qrows, probed) for c in cs],
            schema,
        )
        cand = (
            F.broadcast(probes)
            .join(cells, on="cell")
            .join(F.broadcast(queries.select("query_id", "qvec")), on="query_id")
        )
    else:
        qprobe = (
            queries.crossJoin(F.broadcast(centroids))
            .withColumn("cdist", metric_dist(metric, F.col("qvec"), F.col("cvec")))
        )
        probes = topk_per_group(
            qprobe, ["query_id"], "cdist", nprobe, tiebreak_cols=["cid"],
            rank_name="_r",
        ).select("query_id", "qvec", F.col("cid").alias("cell"))
        cand = probes.join(cells, on="cell")
    cand = cand.withColumn(
        "dist", pairwise_dist_udf(metric)(F.col("qvec"), F.col("vec"))
    )
    top = topk_per_group(cand, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def ivf_save(
    spark, corpus: DataFrame, centroids: DataFrame, path: str,
    metric: str = "cosine",
    shards: int | None = None,
) -> None:
    """Persist an IVF index as a serving store: ``{path}/cells`` =
    (id, vec) parquet partitioned by cell, ``{path}/centroids`` = the
    model. Unlike the LSH bucket store (ids duplicated across trees, so
    vectors live in a separate table), IVF assigns each id exactly once
    — vectors COLOCATE with their cell and a point lookup reads them
    straight out of the pruned partitions, no second fetch join.

    Layout mirrors LshIndex.save: a handful of cells per task via range
    partitioning, rows sorted by (cell, id) for row-group locality.

    ``shards=N``: the sharded serving layout (serve.sharded) — each
    {path}/shard=K is a complete ivf_save of the id-subset
    pmod(xxhash64(id), N) == K against the SAME centroids (every shard
    probes identical cells, so the per-shard top-k merge is exact —
    serve/sharded.py). No cross-shard coupling exists for IVF (one
    cell row per id), so no analog of the LSH hot_buckets table is
    needed."""
    if shards is not None:
        from vector_search_go_spark.serve.sharded import (
            check_shard_population,
            shard_expr,
            write_shards_meta,
        )

        # pin both inputs once: the per-shard saves below would
        # otherwise re-run the corpus lineage N more times and the
        # centroid producer (usually a lazy kmeans_fit plan, itself
        # corpus-sized) ~2x per shard — the same N-fold build blow-up
        # LshIndex.save's sharded branch caches buckets to avoid
        centroids = spark.createDataFrame(
            centroids.collect(), centroids.schema
        )
        was_cached = corpus.is_cached
        if not was_cached:
            corpus = corpus.cache()
            corpus.count()
        try:
            check_shard_population(corpus, shards, "ivf corpus")
            sh = shard_expr(shards)
            for k in range(shards):
                ivf_save(
                    spark, corpus.filter(sh == k), centroids,
                    f"{path}/shard={k}", metric=metric,
                )
            write_shards_meta(spark, path, "ivf", shards, metric=metric)
        finally:
            if not was_cached:
                corpus.unpersist()
        return
    cells = assign_cells(corpus, centroids, metric=metric)
    (
        cells.repartitionByRange(8, "cell")
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # assignment metric rides with the store: cell membership is only
    # meaningful under the metric it was computed with, and a drift
    # rebuild (streaming.maintain.maintain_ivf) must reuse it rather
    # than guess
    import json as _json

    spark.createDataFrame(
        [(_json.dumps({"family": "ivf", "metric": metric}),)],
        "meta_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
    # build-time cell-mass baseline for drift maintenance
    # (streaming.maintain.cell_staleness) — aggregated from the
    # just-written store, like LshIndex.save's build_stats. Refresh
    # first: maintain_ivf re-saves over a path this session already
    # read, and a stale file listing would list deleted pre-rebuild
    # files (the hazard documented at lsh/index.py build_stats).
    spark.catalog.refreshByPath(f"{path}/cells")
    (
        spark.read.parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("sz"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/build_stats")
    )


def load_ivf_model(spark, centroids_path: str):
    """Collect a saved store's centroid table to the (ids, matrix)
    closure payload (operators.argmin.collect_centroids — model-sized).
    Serving processes load once and pass the result to every
    ivf_point_search/ivfpq_point_search call, so a lookup pays no extra
    model-collect job."""
    from vector_search_go_spark.operators.argmin import collect_centroids

    return collect_centroids(spark.read.parquet(centroids_path))


def ivf_point_search_batch(
    spark,
    path: str,
    queries,
    metric: str = "cosine",
    k: int = 10,
    nprobe: int = 4,
    threshold: float | None = None,
    model=None,
) -> DataFrame:
    """Serve a SMALL batch of queries from a saved IVF store in ONE
    job (micro-batch serving — amortizes Spark's fixed per-job floor
    that dominates single-query latency; see SCALE.md serving table).
    The one pipeline behind ivf_point_search (a batch of one).

    ``queries`` = [(query_id, qvec), ...]. Centroids load driver-side
    (model KBs; pass a preloaded ``model`` = load_ivf_model() to
    amortize the collect across lookups, the forest= pattern of
    lsh_point_search). The coarse probe runs driver-side for the whole
    batch at once (probe_cells: the SAME sequential-IEEE distance and
    (dist, cid) tie-break as the distributed probe), the cells scan
    reads the UNION of probed cells exactly once (``cell IN (...)``
    partition pruning — I/O proportional to the probed cells, not the
    corpus), each scanned row maps back to its probing queries via a
    driver-built (cell -> query ids) map in the scorer's closure (a
    broadcast map table would cost a job per call), and scoring
    fans in (one Arrow crossing per candidate row regardless of batch
    size). A query's rows do not depend on the rest of its batch; they
    are bit-identical to LocalIvfReader on the same store
    (tests/test_serving_batch.py)."""
    import numpy as np

    from vector_search_go_spark.operators.argmin import fanin_query_scorer
    from vector_search_go_spark.operators.topk import topk_per_group

    if not queries:
        raise ValueError("ivf_point_search_batch needs at least one query")
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_id in batch")
    Q = np.asarray([list(v) for _, v in queries], dtype=np.float64)
    if model is None:
        model = load_ivf_model(spark, f"{path}/centroids")
    probed = probe_cells(Q, model, metric, nprobe)
    cell_qids: dict[int, list[int]] = {}
    for qid, cells_q in zip(qids, probed):
        for c in cells_q:
            cell_qids.setdefault(c, []).append(qid)
    # the batch is driver-side already: the scorer takes its rows as is
    # (a query DataFrame would cost a collect job per lookup)
    qrows = [{"query_id": qid, "qvec": Q[i]} for i, qid in enumerate(qids)]
    from vector_search_go_spark.streaming.delete import mask_tombstones

    cells = mask_tombstones(spark, path, spark.read.parquet(f"{path}/cells")).filter(
        F.col("cell").isin(sorted(cell_qids))
    )
    id_t = cells.schema["id"].dataType.simpleString()
    scored = cells.mapInPandas(
        fanin_query_scorer(
            None, metric, local_topk=k, qrows=qrows, qids_by=("cell", cell_qids)
        ),
        schema=f"query_id bigint, id {id_t}, dist double",
    )
    if threshold is not None:
        scored = scored.filter(F.col("dist") <= threshold)
    top = topk_per_group(scored, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def ivf_point_search(
    spark,
    path: str,
    qvec,
    metric: str = "cosine",
    k: int = 10,
    nprobe: int = 4,
    threshold: float | None = None,
    model=None,
) -> DataFrame:
    """Serve ONE query from a saved IVF store (the IVF twin of
    lsh.search.lsh_point_search): a one-query ivf_point_search_batch.
    Returns (query_id=0, id, dist, rn)."""
    return ivf_point_search_batch(
        spark, path, [(0, qvec)], metric=metric, k=k, nprobe=nprobe,
        threshold=threshold, model=model,
    )
