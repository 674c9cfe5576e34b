"""Exact (brute-force) nearest-neighbor search.

Parity target: the reference's ``NNMock`` exact-NN oracle
(annbench/annbench.go:56-125) — full scan, distance to every stored
vector, optional distance threshold, top-k by ascending distance. Same
``Indexer`` role as the LSH index (lsh/lsh.go:54-57).

Spark shape: the corpus streams past the in-memory query set exactly
once (no corpus shuffle — the optimal exact-KNN plan at any scale),
then WindowGroupLimit top-k. The distance kernel runs per Arrow corpus
batch (mapInPandas, query matrix in the closure): the shared two-stage
nearest scorer (functions.metrics.seq_nearest), whose distances are
metric_dist's fold bit for bit; the DuckDB oracle hashes pin them end
to end.

At 100 TB this is the ground-truth/oracle path by design — the production
ANN path is ``vector_search_go_spark.lsh`` (SURVEY.md section 7 Phase 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import check_metric
from vector_search_go_spark.io import read_parquet_cached
from vector_search_go_spark.operators.topk import topk_per_group


def exact_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    metric: str = "l2",
    k: int = 10,
    threshold: float | None = None,
    qrows: list | None = None,
) -> DataFrame:
    """queries(query_id, qvec) x corpus(id, vec) -> (query_id, id, dist, rn).

    ``qrows``: a pre-collected (query_id, qvec) row list — callers that
    already materialized the query batch (the recall-vs-exact entries
    share one collect between the pred chain and this truth chain)
    pass it to skip the per-invocation collect job. Must hold exactly
    the rows ``queries`` would produce.

    ``threshold`` mirrors the reference's ``distanceThrsh`` filter
    (lsh/lsh.go:177); None means no thresholding.

    ``mapInPandas`` over corpus batches with the query matrix in the
    closure (queries are the broadcast-small side by contract —
    collecting them driver-side is the same bound as a broadcast).
    Each batch emits only its LOCAL exact top-k rows per query: top-k
    under the global (dist, id) order is selection-monotone across any
    partition of the corpus, so the global winners are exactly the
    winners of the per-batch winners, and the threshold filter only
    ever removes a suffix of that order — |batch| x k rows cross the
    shuffle instead of |batch| x |queries| pairs. Inside a batch the
    local top-k comes from functions.metrics.seq_nearest: a BLAS
    approximate pass bounds the per-query k-th distance, the
    SEQUENTIAL per-dimension kernel (seq_dists — the exact IEEE order
    of the fold) rescores everything within a provable margin, and
    emitted distances are always the exact values (pinned by the knn
    oracle hashes and the in-test fold of tests/test_exact_knn.py).
    """
    from vector_search_go_spark.io import ensure_parallelism
    from vector_search_go_spark.operators.argmin import scan_topk

    corpus = ensure_parallelism(corpus)
    if qrows is None:
        qrows = queries.select("query_id", "qvec").collect()
    cand = scan_topk(
        corpus, qrows, lambda rows: exact_local_topk_kernel(rows, metric, k),
        "dist", metric,
    )
    if threshold is not None:
        cand = cand.filter(F.col("dist") <= F.lit(float(threshold)))
    top = topk_per_group(
        cand, ["query_id"], "dist", k, tiebreak_cols=["id"], rank_name="rn"
    )
    return top.select("query_id", "id", "dist", "rn")


def exact_local_topk_kernel(qrows, metric: str, k: int):
    """Per-batch exact-KNN local top-k as a reusable closure:
    ``fn(V, ids_b) -> (q_arr, i_arr, d_arr)``, functions.metrics.
    seq_nearest (BLAS bound + sequential-IEEE rescore of the margin
    set) cut to each query's top-k by (dist, id). It is
    exact_knn_join's scorer AND the truth kernel the fused pred+truth
    scans run (argmin.scan_topk ``truth_k``: the ``*_recall_vs_exact``
    entries share one corpus scan between the ANN chain and this truth
    chain), so both run the bit-identical code path. ``qrows`` must be
    the sorted, non-empty (query_id, qvec) batch."""
    from vector_search_go_spark.operators.argmin import (
        nearest_topk_arrays,
        query_matrix,
    )

    check_metric(metric)
    qids, Q = query_matrix(qrows)

    def batch_fn(V, ids_b):
        return nearest_topk_arrays(metric, qids, Q, V, ids_b, k)

    return batch_fn


def embeddings_split(
    spark: SparkSession, sf_dir: str, query_mod: int = 50
) -> tuple[DataFrame, DataFrame]:
    """Held-out split of the embeddings table (FIXTURES.md B1 convention):
    ``vec_id % query_mod == 0`` are queries, the rest are the corpus."""
    emb = read_parquet_cached(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") % query_mod != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    return queries, corpus


def exact_knn_embeddings(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "l2",
    k: int = 10,
    query_mod: int = 50,
    threshold: float | None = None,
) -> DataFrame:
    queries, corpus = embeddings_split(spark, sf_dir, query_mod)
    return exact_knn_join(queries, corpus, metric=metric, k=k, threshold=threshold)


def scan_save(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    metric: str = "l2",
    shards: int | None = None,
) -> None:
    """Persist a corpus as a SCAN store — the serving layout for the
    backend the measured advisor picks when no index prunes (the
    SCALE.md angular probes; reference anchor: NNMock's full-scan
    Search, annbench/annbench.go:56-125). Layout: ``{path}/vectors``
    (id-sorted parquet, same shape as LshIndex.save's vector table) +
    ``{path}/store_meta`` recording family/metric/dims — the metric
    guard engine.load and serve.LocalScanReader enforce.

    There is deliberately NO model component: exact search cannot go
    stale, so maintain() on this layout is a no-op by construction.

    ``shards=N``: the sharded serving layout (serve.sharded) — each
    {path}/shard=K is a complete scan store of the id-subset
    pmod(xxhash64(id), N) == K. The scan is where sharding pays most:
    per-query work is O(shard), so N parallel readers hold ms/q flat
    as the corpus grows N-fold (the SCALE.md sharded row)."""
    import json as _json

    if shards is not None:
        from vector_search_go_spark.serve.sharded import (
            check_shard_population,
            shard_expr,
            write_shards_meta,
        )

        # pin the corpus once — the N per-shard writes below would
        # otherwise re-run its lineage N more times (the LshIndex.save
        # sharded-branch lesson)
        was_cached = vectors.is_cached
        if not was_cached:
            vectors = vectors.cache()
            vectors.count()
        try:
            check_shard_population(vectors, shards, "scan corpus")
            sh = shard_expr(shards)
            for k in range(shards):
                scan_save(
                    spark, vectors.filter(sh == k), f"{path}/shard={k}",
                    metric=metric,
                )
            write_shards_meta(spark, path, "scan", shards, metric=metric)
        finally:
            if not was_cached:
                vectors.unpersist()
        return

    vectors = vectors.select("id", "vec")
    first = vectors.select("vec").head()
    if first is None:
        raise ValueError("scan_save: corpus is empty — nothing to persist")
    dims = len(first["vec"])
    (
        # id-sorted, modest row groups: the local reader preloads the
        # whole table (a scan touches every row by definition), but
        # id-sorted order keeps the preloaded matrix gather-free and
        # lets any future id-pruned consumer skip row groups
        vectors.repartitionByRange(8, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("parquet.block.size", 512 << 10)
        .parquet(f"{path}/vectors")
    )
    spark.createDataFrame(
        [(_json.dumps({"family": "scan", "metric": metric, "dims": dims}),)],
        "meta_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
