"""LSH batch search (reference Search, lsh/lsh.go:137-197).

Pipeline (SURVEY.md section 2 O11-O13 mapping):

  queries --hash UDF--> (query_id, tree, hash) incl. flipped-MSB probe
          --equi-join--> buckets(tree, hash, id)      [bucket pruning]
          --dropDuplicates(query_id, id)              [dedup, lsh.go:169-171]
          --join vectors--> distance(metric)          [lsh.go:172-176]
          --filter dist <= threshold                  [lsh.go:177]
          --row_number window top-k, (dist, id) ties  [heap pop, lsh.go:192-196]

Deterministic semantics: the reference truncates candidates at
MaxCandidates in Go-map iteration order — nondeterministic (SURVEY.md
section 3.2). We compute the global top-k of all in-threshold
candidates (== reference with MaxCandidates=inf, which is how its
benchmarks are tuned). ``max_candidates`` survives as an optional
per-query candidate cap applied deterministically by (dist, id) order.

Scale notes: the query-hash side is queries x 2*n_trees rows — small —
so it broadcasts into the bucket join; the corpus never shuffles. The
only wide exchange is the final per-query top-k window, whose input is
already candidate-pruned (the whole point of the index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_go_spark.lsh.index import LshIndex, _hash_probe_udf
from vector_search_go_spark.operators.topk import topk_per_group


def bound_hot_buckets(buckets: DataFrame, stats: DataFrame, cap: int) -> DataFrame:
    """Deterministic hot-bucket thinning (the scan-time analog of the
    reference's MaxCandidates truncation, lsh/lsh.go:143,162 — but by
    stable id-hash instead of Go-map iteration order).

    Buckets at or under ``cap`` pass through untouched. A bucket of
    size sz > cap keeps members whose xxhash64(tree, hash, id) is
    0 mod ceil(sz/cap) — ~cap survivors in expectation, the SAME
    survivors for every query that probes the bucket, re-derivable
    from (tree, hash, id) alone. Hashing tree+hash in decorrelates
    trees: a vector thinned out of one tree's hot bucket stays
    reachable through its other trees.

    Scale shape: the oversize list broadcasts (it is the pathological
    tail of the bucket-size distribution, not the store), so the
    bound is a broadcast-join + filter on the bucket scan — no
    shuffle, no window over the store.

    NOTE: sz counts PHYSICAL rows, not distinct ids. On an uncompacted
    at-least-once store (streaming replays can append the same
    (tree, hash, id) row twice) a bucket whose unique membership is
    under the cap can still be thinned, and survivors land near
    cap/replay-factor. Batch and point paths stay consistent with each
    other (both count physical rows — _bound_scanned_buckets), and
    ``compact(dedup=True)`` restores the configured semantics; compact
    replayed stores before relying on the exact cap value."""
    hot = stats.filter(F.col("sz") > cap)
    thinned = buckets.join(F.broadcast(hot), on=["tree", "hash"], how="left")
    keep_mod = F.ceil(F.col("sz") / F.lit(cap)).cast("long")
    return thinned.filter(
        F.col("sz").isNull()
        | (F.pmod(F.xxhash64("tree", "hash", "id"), keep_mod) == 0)
    ).drop("sz")


def _bound_scanned_buckets(scan: DataFrame, cap: int | None) -> DataFrame:
    """Apply the ``max_bucket_size`` thinning to a PRUNED bucket scan
    (the point-lookup paths). The pruned scan holds WHOLE buckets —
    pruning filters on (tree, hash) only — so computing sz over the
    scan yields the same sizes, hence the identical survivor set
    (same sz, same xxhash64 rule), as ``bound_hot_buckets`` over the
    full store: serving results stay consistent with batch
    ``lsh_search`` on the same index. sz comes from a count WINDOW over
    the scan — one read of the probed buckets (a groupBy+self-join
    would execute every per-tree parquet scan twice), with the
    exchange sized by probed rows, not the store."""
    if cap is None:
        return scan
    from pyspark.sql import Window

    sz = F.count(F.lit(1)).over(Window.partitionBy("tree", "hash"))
    keep_mod = F.ceil(F.col("_sz") / F.lit(cap)).cast("long")
    return (
        scan.withColumn("_sz", sz)
        .filter(
            (F.col("_sz") <= cap)
            | (F.pmod(F.xxhash64("tree", "hash", "id"), keep_mod) == 0)
        )
        .drop("_sz")
    )


def lsh_search(
    index: LshIndex,
    queries: DataFrame,
    metric: str,
    k: int = 10,
    threshold: float | None = None,
    broadcast_queries: bool = True,
    qrows: list | None = None,
) -> DataFrame:
    """queries(query_id, qvec) -> (query_id, id, dist, rn).

    ``qrows``: a pre-collected (query_id, qvec) row list — callers that
    already materialized the query batch (the lsh_recall entries share
    one collect between this search and their exact-truth chain) pass
    it to skip the per-invocation collect job. Must hold exactly the
    rows ``queries`` would produce; only used when broadcast_queries.

    ``broadcast_queries`` (default True): the query batch is
    driver-collectable, so candidates are grouped per corpus id and
    scored in one mapInPandas pass with the query matrix in the closure
    (argmin.fanin_query_scorer) — each candidate corpus vector crosses
    the Arrow boundary ONCE instead of once per pair, and no qvec is
    ever joined onto pair rows (at 60k x 784-d, 100 queries: 39 s ->
    13 s warm, 84 s -> 16 s cold). False is the caller's signal that
    queries are large: they stay distributed — hashed by a pandas UDF
    and joined onto the candidate pairs, scored by the per-pair Arrow
    kernel (argmin.pairwise_dist_udf). Both scorers run seq_dists, so
    the two paths return bit-identical rows."""
    spark = queries.sparkSession
    n_trees = index.config.n_trees
    q_rows = None
    if broadcast_queries:
        # The query batch is driver-collectable by contract here, and
        # the forest already lives on the driver — hash + probe the
        # whole batch in ONE Forest.hash_batch call (exactly what the
        # serving path lsh_point_search_batch does) instead of running
        # a pandas-UDF stage + dropDuplicates shuffle + broadcast-build
        # job per search. hash_batch casts to float64 internally, the
        # same widening the Arrow kernel applied, so hashes are
        # bit-identical; the set-dedup mirrors dropDuplicates.
        import numpy as np
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        q_rows = (
            qrows
            if qrows is not None
            else queries.select("query_id", "qvec").collect()
        )
        if q_rows:
            Q = np.array([list(r["qvec"]) for r in q_rows], dtype=np.float64)
            hashes = index.forest.hash_batch(Q)
            probes = index.forest.probe_batch(hashes)
            keys = sorted(
                {
                    (r["query_id"], t, int(h[i, t]))
                    for h in (hashes, probes)
                    for i, r in enumerate(q_rows)
                    for t in range(n_trees)
                }
            )
        else:
            keys = []
        qhash = F.broadcast(
            spark.createDataFrame(
                keys,
                StructType(
                    [
                        queries.select("query_id").schema.fields[0],
                        StructField("tree", IntegerType(), False),
                        StructField("hash", LongType(), False),
                    ]
                ),
            )
        )
    else:
        hash_vec = _hash_probe_udf(spark, index.forest, with_probes=True)
        qhash = (
            queries.select(
                "query_id", F.posexplode(hash_vec("qvec")).alias("pos", "hash")
            )
            .select(
                "query_id",
                (F.col("pos") % n_trees).cast("int").alias("tree"),
                "hash",
            )
            # own + probe bucket may collide for degenerate trees; and the
            # same (tree, hash) must not double-count a bucket per query
            .dropDuplicates(["query_id", "tree", "hash"])
        )

    buckets = index.buckets
    if index.config.max_bucket_size is not None:
        buckets = bound_hot_buckets(
            buckets, index.bucket_stats(), index.config.max_bucket_size
        )
    cand = (
        buckets.join(qhash, on=["tree", "hash"])
        .select("query_id", "id")
        .dropDuplicates(["query_id", "id"])
    )

    if broadcast_queries:
        from vector_search_go_spark.operators.argmin import fanin_query_scorer

        # One shuffle of (query_id, id) pair rows — tiny — then the
        # corpus vectors join the per-id candidate lists without ever
        # being duplicated per pair. collect_set dedups (query, id)
        # inside the same aggregation; sort_array makes the list order
        # (hence Arrow batch content) deterministic.
        fanin = F.broadcast(
            cand.groupBy("id").agg(
                F.sort_array(F.collect_set("query_id")).alias("qids")
            )
        )
        qid_t = queries.schema["query_id"].dataType.simpleString()
        id_t = index.vectors.schema["id"].dataType.simpleString()
        # downstream is [threshold →] topk(max_candidates) → topk(k),
        # net rank cutoff min(k, max_candidates): per-batch exact local
        # top-L emission is result-identical and shuffles |Q| x L rows
        # per batch instead of every pair
        mc = index.config.max_candidates
        local_l = k if mc is None else min(k, mc)
        scored = fanin.join(index.vectors, on="id").mapInPandas(
            fanin_query_scorer(queries, metric, local_topk=local_l, qrows=q_rows),
            schema=f"query_id {qid_t}, id {id_t}, dist double",
        )
    else:
        from vector_search_go_spark.operators.argmin import pairwise_dist_udf

        scored = (
            cand.join(index.vectors, on="id")
            .join(queries, on="query_id")
            .withColumn(
                "dist", pairwise_dist_udf(metric)(F.col("qvec"), F.col("vec"))
            )
        )
    if threshold is not None:
        scored = scored.filter(F.col("dist") <= F.lit(float(threshold)))
    if index.config.max_candidates is not None:
        # Deterministic stand-in for the reference's candidate cap
        # (lsh.go:143,162): keep the max_candidates best by (dist, id).
        scored = topk_per_group(
            scored,
            ["query_id"],
            "dist",
            index.config.max_candidates,
            tiebreak_cols=["id"],
            rank_name="_cand_rank",
        ).drop("_cand_rank")
    top = topk_per_group(scored, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def lsh_point_search_batch(
    spark,
    index_path: str,
    queries,
    metric: str,
    k: int = 10,
    threshold: float | None = None,
    forest=None,
) -> DataFrame:
    """Serve a SMALL batch of queries from a PERSISTED index — the
    point-lookup shape of the reference's Search (lsh/lsh.go:137-197),
    and the one pipeline behind ``lsh_point_search`` (a batch of one).
    Batch ``lsh_search`` streams the whole bucket store past a large
    cached query table — right for throughput, wrong for a lookup. Here
    each call pays Spark's fixed per-job floor once, so amortizing it
    across even 8 queries collapses per-query latency toward the
    large-batch ms/q figure (SCALE.md serving table).

    ``queries`` = [(query_id, qvec), ...]. The shape:

      - hashes/probes compute DRIVER-side for the whole batch (one
        ``Forest.hash_batch`` call — microseconds, no Spark job,
        exactly the reference's in-process getHashes);
      - the bucket read is point_bucket_candidates: one pruned scan PER
        TREE with ``hash IN (all probed hashes of the batch)`` — the
        tree partition dir is pruned and, because ``LshIndex.save``
        sorts by hash within each tree, parquet min/max row-group
        statistics skip everything but the probed buckets (measured at
        1M x 64-d, 40 trees: 0.11 s per tree scan, ~1.5 s for the
        union; the single 40-branch OR filter defeats pushdown and
        costs ~25 s). I/O scales with bucket size, not corpus size;
      - the probed bucket rows collect to the driver (one job), which
        maps each candidate id to its probing queries; the ids push one
        ``id IN (...)`` into the id-sorted vectors table, the map rides
        the scorer's closure, and scoring fans in (each candidate
        corpus vector crosses Arrow once, however many queries probe
        it — operators.argmin.fanin_query_scorer).

    A query's rows do not depend on the rest of its batch; they are
    bit-identical to the driver-side LocalLshReader on the same store
    (tests/test_serving_batch.py, tests/test_serve_local.py). Pass
    ``forest`` to skip re-reading the model per call (a serving
    process loads it once, like the reference holds its hasher)."""
    import numpy as np

    from vector_search_go_spark.operators.argmin import fanin_query_scorer

    if forest is None:
        forest = LshIndex.load_forest(spark, index_path)
    if not queries:
        raise ValueError("lsh_point_search_batch needs at least one query")
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_id in batch")
    Q = np.asarray([list(v) for _, v in queries], dtype=np.float64)
    hashes = forest.hash_batch(Q)
    probes = forest.probe_batch(hashes)

    # (tree, hash) -> probing query ids, built driver-side (batch x
    # trees x 2 entries — tiny)
    probe_qids: dict[tuple[int, int], set] = {}
    for h in (hashes, probes):
        for i, qid in enumerate(qids):
            for t in range(h.shape[1]):
                probe_qids.setdefault((t, int(h[i, t])), set()).add(qid)
    scan = point_bucket_candidates(
        spark, index_path, hashes, probes, forest.config.max_bucket_size
    ).toArrow()
    # Fan-in list per candidate id, built driver-side from the probed
    # bucket rows (bounded: probed buckets x bucket size); it rides the
    # scorer's closure and its ids push one `id IN (...)` into the
    # id-sorted vectors table, so only candidate row groups are read
    id_sets: dict = {}
    for t, h, i in zip(
        scan.column("tree").to_pylist(),
        scan.column("hash").to_pylist(),
        scan.column("id").to_pylist(),
    ):
        id_sets.setdefault(i, set()).update(probe_qids[(t, h)])
    id_qids = {i: sorted(qs) for i, qs in id_sets.items()}
    # the batch is driver-side already: the scorer takes its rows as is
    # (a query DataFrame would cost a collect job per lookup)
    qrows = [{"query_id": qid, "qvec": Q[i]} for i, qid in enumerate(qids)]
    vectors = spark.read.parquet(f"{index_path}/vectors")
    id_t = vectors.schema["id"].dataType.simpleString()
    scored = vectors.filter(F.col("id").isin(sorted(id_qids))).mapInPandas(
        fanin_query_scorer(
            None, metric, local_topk=k, qrows=qrows, qids_by=("id", id_qids)
        ),
        schema=f"query_id bigint, id {id_t}, dist double",
    )
    if threshold is not None:
        scored = scored.filter(F.col("dist") <= F.lit(float(threshold)))
    top = topk_per_group(scored, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def point_bucket_candidates(
    spark, index_path: str, hashes, probes, max_bucket_size: int | None = None
) -> DataFrame:
    """The probed bucket rows ``(tree, hash, id)`` of a hashed query
    batch (``hashes``/``probes``: one row per query): one pruned scan
    per tree over the batch's probed hashes, unioned, tombstone-masked,
    then hot-bucket-thinned (``max_bucket_size``). Kept as its own
    builder so the plan-audit (tools/explain_audit.py
    op:lsh_point_search) can assert partition pruning and hash pushdown
    on the exact production plan, which lsh_point_search_batch
    collects."""
    from functools import reduce

    from vector_search_go_spark.streaming.delete import mask_tombstones

    buckets = spark.read.parquet(f"{index_path}/buckets")
    parts = []
    for t in range(hashes.shape[1]):
        hs = sorted({int(h) for h in hashes[:, t]} | {int(h) for h in probes[:, t]})
        parts.append(
            buckets.where((F.col("tree") == t) & F.col("hash").isin(hs)).select(
                "tree", "hash", "id"
            )
        )
    # tombstone mask runs BEFORE the thinning: live bucket sizes drive
    # the survivor rule, matching a store re-saved without the ids
    return _bound_scanned_buckets(
        mask_tombstones(spark, index_path, reduce(lambda a, b: a.union(b), parts)),
        max_bucket_size,
    )


def lsh_point_search(
    spark,
    index_path: str,
    qvec,
    metric: str,
    k: int = 10,
    threshold: float | None = None,
    forest=None,
    query_id: int = 0,
) -> DataFrame:
    """Single-query point lookup against a PERSISTED index: a one-query
    lsh_point_search_batch (~3 s at 1M x 64-d, dominated by Spark's
    fixed per-job latency; the probed buckets read in ~0.1 s each)."""
    return lsh_point_search_batch(
        spark, index_path, [(query_id, qvec)], metric, k=k,
        threshold=threshold, forest=forest,
    )
