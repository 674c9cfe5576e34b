"""Arrow kernels == an in-test reference fold, bit for bit.

Every Arrow kernel (argmin_id_arrow, pq_codes_udf, the scan_topk
scorers) must accumulate distances in the SAME sequential
per-dimension IEEE order as functions.metrics.metric_dist and break
ties by (dist, id). These tests pin that claim on the real testdata
against references written here: test_metrics.scalar_dist (one Python
float at a time, left to right from 0.0) or a numpy loop over the last
axis — never a package kernel. Distances are compared with ``==``.

The centroid and codebook fixtures carry a duplicate of one model row
under a larger id, so every vector nearest it is an exact tie that only
the (dist, id) order resolves.

IVF and LSH also keep a ``broadcast_queries=False`` path that never
collects the query batch; their tests pin its rows to the default
path's."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_metrics import scalar_dist

SF_DIR = "/root/testdata/sf0.01"
DUP_ID = 10_000  # id of the duplicated model row; larger than every real id


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).cache()


@pytest.fixture(scope="module")
def cents(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") % 17 == 5).select(
        (F.col("vec_id") / 17).cast("int").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    dup = cents.filter(F.col("cid") == 0).withColumn("cid", F.lit(DUP_ID))
    return cents.union(dup).cache()


def _vecs(df, id_col, vec_col):
    return {r[id_col]: [float(x) for x in r[vec_col]] for r in df.collect()}


def _ref_nearest(metric, vecs, model):
    """Nearest model id per vector under the (dist, id) order."""
    return {
        i: min((scalar_dist(metric, v, c), cid) for cid, c in model.items())[1]
        for i, v in vecs.items()
    }


def _ref_topk(dists, k):
    """Sorted [(query_id, id, dist, rn)] of the k best (dist, id) pairs
    per query; ``dists`` maps query_id -> [(dist, id), ...]."""
    return sorted(
        (q, i, d, rn)
        for q, pairs in dists.items()
        for rn, (d, i) in enumerate(sorted(pairs)[:k], start=1)
    )


def _rows(df):
    return sorted(
        (r["query_id"], r["id"], r["dist"], r["rn"]) for r in df.collect()
    )


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_assign_cells_impl_parity(spark, corpus, cents, metric):
    """assign_cells compares in the kernels' domain (sqrt'd L2 for
    'l2') with (dist, cid) tie-breaks."""
    from vector_search_go_spark.operators.ann_ivf import assign_cells

    got = {r["id"]: r["cell"] for r in
           assign_cells(corpus, cents, metric=metric).collect()}
    want = _ref_nearest(
        metric, _vecs(corpus, "id", "vec"), _vecs(cents, "cid", "cvec")
    )
    assert got == want


def test_kmeans_assign_impl_parity(spark, corpus, cents):
    from vector_search_go_spark.operators.kmeans import kmeans_assign

    got = {r["id"]: r["cell"] for r in kmeans_assign(corpus, cents).collect()}
    want = _ref_nearest(
        "sq_l2", _vecs(corpus, "id", "vec"), _vecs(cents, "cid", "cvec")
    )
    assert got == want


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_exact_knn_impl_parity(spark, metric):
    from vector_search_go_spark.operators.exact_knn import (
        embeddings_split,
        exact_knn_join,
    )

    queries, corpus = embeddings_split(spark, SF_DIR)
    got = _rows(exact_knn_join(queries, corpus, metric=metric, k=10))
    vecs = _vecs(corpus, "id", "vec")
    want = _ref_topk(
        {
            q: [(scalar_dist(metric, qv, v), i) for i, v in vecs.items()]
            for q, qv in _vecs(queries, "query_id", "qvec").items()
        },
        10,
    )
    assert got == want


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_lsh_search_impl_parity(spark, metric):
    """The path that keeps queries distributed (hash UDF + pairwise
    kernel) returns the default fan-in path's rows."""
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.lsh.search import lsh_search
    from vector_search_go_spark.operators.exact_knn import embeddings_split

    queries, corpus = embeddings_split(spark, SF_DIR)
    cfg = LshConfig(
        dims=64, n_trees=8, k_min_vecs=50, seed=11, is_angular=(metric != "l2")
    )
    idx = LshIndex.train(spark, corpus, cfg)
    fanin = _rows(lsh_search(idx, queries, metric=metric, k=5))
    dist = _rows(
        lsh_search(idx, queries, metric=metric, k=5, broadcast_queries=False)
    )
    assert len(fanin) == 5 * queries.count()
    assert dist == fanin


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_ivf_search_impl_parity(spark, metric):
    """The distributed probe (crossJoin + rank window, no query
    collect) returns the driver probe's rows."""
    from vector_search_go_spark.operators.ann_ivf import assign_cells, ivf_search
    from vector_search_go_spark.operators.exact_knn import embeddings_split
    from vector_search_go_spark.operators.kmeans import kmeans_init

    queries, corpus = embeddings_split(spark, SF_DIR)
    cents = kmeans_init(corpus, k=8)
    cells = assign_cells(corpus, cents, metric=metric)
    driver = _rows(
        ivf_search(queries, cells, cents, metric=metric, k=5, nprobe=3)
    )
    dist = _rows(
        ivf_search(
            queries, cells, cents, metric=metric, k=5, nprobe=3,
            broadcast_queries=False,
        )
    )
    assert len(driver) == 5 * queries.count()
    assert dist == driver


def test_pq_encode_impl_parity(spark, corpus):
    from vector_search_go_spark.operators.pq import (
        D_SUB,
        M_SUB,
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebook(emb)
    cb = cb.union(cb.filter(F.col("code") == 0).withColumn("code", F.lit(DUP_ID)))
    got = {(r["id"], r["sub"]): r["code"] for r in pq_encode(corpus, cb).collect()}

    vecs = _vecs(corpus, "id", "vec")
    ids = sorted(vecs)
    V = np.array([vecs[i] for i in ids])
    want = {}
    for sub in range(M_SUB):
        rows = sorted(
            (r["code"], [float(x) for x in r["cvec"]])
            for r in cb.filter(F.col("sub") == sub).collect()
        )
        codes = np.array([c for c, _ in rows])
        C = np.array([v for _, v in rows])
        Vs = V[:, sub * D_SUB:(sub + 1) * D_SUB]
        D = np.zeros((len(V), len(C)))
        for d in range(D_SUB):  # sequential fold over the subspace dims
            diff = Vs[:, None, d] - C[None, :, d]
            D += diff * diff
        for n, i in enumerate(ids):
            want[(i, sub)] = int(codes[np.lexsort((codes, D[n]))[0]])
    assert got == want


def test_sq8_search_impl_parity(spark):
    """Reference: the Catalyst sq8_encode codes, midpoint dequant and
    scalar_dist folds, shortlist by (approx_dist, id), exact rerank. A
    shortlist of k makes every approximate rank at the cut visible in
    the output rows."""
    from vector_search_go_spark.operators.exact_knn import embeddings_split
    from vector_search_go_spark.operators.sq8 import (
        sq8_encode,
        sq8_search,
        sq8_stats,
    )

    queries, corpus = embeddings_split(spark, SF_DIR)
    stats = sq8_stats(corpus, 64)
    st = stats.collect()[0]
    codes = {r["id"]: r["codes"] for r in sq8_encode(corpus, stats, 64).collect()}
    xhat = {
        i: [m + (c + 0.5) * s for m, c, s in zip(st["mins"], cs, st["scales"])]
        for i, cs in codes.items()
    }
    vecs = _vecs(corpus, "id", "vec")
    qvecs = _vecs(queries, "query_id", "qvec")
    for shortlist in (10, 50):
        got = _rows(sq8_search(queries, stats, corpus, k=10, shortlist=shortlist))
        want = _ref_topk(
            {
                q: [
                    (scalar_dist("l2", qv, vecs[i]), i)
                    for _, i in sorted(
                        (scalar_dist("l2", qv, x), i) for i, x in xhat.items()
                    )[:shortlist]
                ]
                for q, qv in qvecs.items()
            },
            10,
        )
        assert got == want, shortlist
