"""Exact-KNN vs a numpy brute-force oracle (reference NNMock,
annbench/annbench.go:56-125)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from vector_search_go_spark.operators.exact_knn import (
    embeddings_split,
    exact_knn_join,
)
from vector_search_go_spark.operators.recall import (
    distance_based_precision_recall,
    mean_precision_recall,
    precision_recall,
)


def test_exact_knn_matches_numpy(spark):
    rng = np.random.default_rng(5)
    C = rng.normal(size=(80, 6))
    Q = rng.normal(size=(4, 6))
    corpus = spark.createDataFrame(
        [(i, list(map(float, C[i]))) for i in range(len(C))],
        "id bigint, vec array<double>",
    )
    queries = spark.createDataFrame(
        [(j, list(map(float, Q[j]))) for j in range(len(Q))],
        "query_id bigint, qvec array<double>",
    )
    got = exact_knn_join(queries, corpus, metric="l2", k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rn"], r["id"], r["dist"]))
    for j in range(len(Q)):
        dists = np.linalg.norm(C - Q[j], axis=1)
        order = np.lexsort((np.arange(len(C)), dists))[:5]
        want = [(rank + 1, int(order[rank]), float(dists[order[rank]])) for rank in range(5)]
        got_j = sorted(by_q[j])
        assert [(a, b) for a, b, _ in got_j] == [(a, b) for a, b, _ in want]
        assert np.allclose([d for _, _, d in got_j], [d for _, _, d in want])


def test_threshold_filter(spark):
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [5.0, 0.0])],
        "id bigint, vec array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id bigint, qvec array<double>"
    )
    rows = exact_knn_join(queries, corpus, metric="l2", k=10, threshold=2.0).collect()
    assert {r["id"] for r in rows} == {0, 1}


def test_recall_identity(spark, sf_dir):
    queries, corpus = embeddings_split(spark, sf_dir)
    truth = exact_knn_join(queries, corpus, metric="l2", k=5)
    pr = precision_recall(truth, truth)
    p, r = mean_precision_recall(pr)
    assert p == 1.0 and r == 1.0
    prd = distance_based_precision_recall(truth, truth, epsilon=0.0)
    p, r = mean_precision_recall(prd)
    assert p == 1.0 and r == 1.0


def test_distance_based_recall_catches_misses(spark):
    truth = spark.createDataFrame(
        [(0, 1, 1.0, 1), (0, 2, 2.0, 2)], "query_id bigint, id bigint, dist double, rn int"
    )
    pred = spark.createDataFrame(
        [(0, 1, 1.0, 1), (0, 9, 9.0, 2)], "query_id bigint, id bigint, dist double, rn int"
    )
    p, r = mean_precision_recall(distance_based_precision_recall(pred, truth, 0.05))
    assert p == 0.5 and r == 0.5


import pytest


@pytest.mark.parametrize("n_parts", [3, 1])
def test_arrow_two_stage_matches_expr_oracle(spark, n_parts):
    """The arrow kernel must be BIT-identical to the reference fold
    (test_metrics.scalar_dist, one Python float at a time) with (dist,
    id) ranks, including duplicate-tie clusters, both metrics, and a
    threshold cut. n_parts=3 exercises the cross-batch local-top-k
    merge on the small-block (full sequential) branch; n_parts=1 makes
    a single 1200-row batch so n_v x n_q = 72,000 > 65,536 and the
    BLAS-approx + margin-selection + pair-rescore branch is ON the
    tested path."""
    from test_metrics import scalar_dist

    rng = np.random.default_rng(23)
    C = rng.normal(size=(1200, 8))
    C[1100:] = C[1100]  # 100-way tie cluster at the top-k boundary
    Q = np.vstack([rng.normal(size=(59, 8)), C[1100][None, :]])
    corpus = spark.createDataFrame(
        [(i, list(map(float, C[i]))) for i in range(len(C))],
        "id bigint, vec array<double>",
    ).repartition(n_parts)
    queries = spark.createDataFrame(
        [(j, list(map(float, Q[j]))) for j in range(len(Q))],
        "query_id bigint, qvec array<double>",
    )

    def rows(df):
        return [
            (r["query_id"], r["id"], r["dist"], r["rn"])
            for r in df.orderBy("query_id", "rn").collect()
        ]

    for metric in ("l2", "cosine"):
        ref = [
            sorted((scalar_dist(metric, q, c), i) for i, c in enumerate(C))
            for q in Q
        ]
        for thr in (None, 1.0 if metric == "cosine" else 4.0):
            got = rows(
                exact_knn_join(queries, corpus, metric=metric, k=12, threshold=thr)
            )
            want = [
                (j, i, d, rn)
                for j, pairs in enumerate(ref)
                for rn, (d, i) in enumerate(
                    [p for p in pairs if thr is None or p[0] <= thr][:12], start=1
                )
            ]
            assert got == want, f"metric={metric} threshold={thr}"


def test_two_stage_cosine_rescore_equals_scalar_fold():
    """Above TWO_STAGE_MIN_PAIRS pairs exact_local_topk_kernel bounds
    with BLAS and rescores the margin set exactly: every emitted cosine distance
    must be the sequential fold's (both norms included — the BLAS
    stage's einsum norms must not leak into the rescore), and the
    emitted (query, id) set must be the mesh top-10 by (dist, id)."""
    from test_metrics import scalar_dist

    from vector_search_go_spark.config import TWO_STAGE_MIN_PAIRS
    from vector_search_go_spark.functions.metrics import seq_dists
    from vector_search_go_spark.operators.exact_knn import exact_local_topk_kernel

    rng = np.random.default_rng(3)
    V = rng.standard_normal((4000, 64))
    Q = rng.standard_normal((20, 64))
    assert len(V) * len(Q) > TWO_STAGE_MIN_PAIRS
    ids = np.arange(len(V), dtype=np.int64) * 3 + 1
    qrows = [{"query_id": j, "qvec": list(Q[j])} for j in range(len(Q))]
    q_o, i_o, d_o = exact_local_topk_kernel(qrows, "cosine", 10)(V, ids)
    for q, i, d in zip(q_o, i_o, d_o):
        assert d == scalar_dist("cosine", Q[q], V[(i - 1) // 3]), (q, i)
    mesh = seq_dists("cosine", V[:, None], Q[None])
    want = {
        (j, int(ids[r]))
        for j in range(len(Q))
        for r in np.lexsort((ids, mesh[:, j]))[:10]
    }
    assert len(q_o) == len(want) == 200
    assert set(zip(q_o.tolist(), i_o.tolist())) == want


def test_exact_knn_join_rejects_mismatched_vector_lengths(spark):
    """A 3-d corpus against 2-d queries raises instead of folding only
    the shorter vector ([0, 1, 2] against [0, 1] used to score 0.0)."""
    from vector_search_go_spark.operators.exact_knn import exact_knn_join

    corpus = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0]), (2, [5.0, 5.0, 5.0])],
        "id bigint, vec array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0])], "query_id bigint, qvec array<double>"
    )
    with pytest.raises(Exception, match="2-d against 3-d"):
        exact_knn_join(queries, corpus, k=1).collect()


_EMPTY_PRED_SCHEMA = {
    "ivf": "struct<query_id:bigint,id:bigint,dist:double>",
    "pq": "struct<query_id:bigint,id:bigint,approx_dist:double>",
    "ivfadc": "struct<query_id:bigint,id:bigint,approx_dist:double>",
    "sq8": "struct<query_id:bigint,id:bigint,dist:double,rn:int>",
    "exact": "struct<query_id:bigint,id:bigint,dist:double,rn:int>",
}


@pytest.mark.parametrize("truth_k", [None, 5])
@pytest.mark.parametrize("family", sorted(_EMPTY_PRED_SCHEMA))
def test_searches_tolerate_empty_queries(spark, family, truth_k):
    """An empty query batch gives every corpus-scan family a well-formed
    empty result with its usual schema, and with truth_k an empty truth
    table shaped like exact_knn_join's output — not a crash in the
    kernels (Q would be 1-D)."""
    from vector_search_go_spark.operators.ann_ivf import ivf_scores_fused
    from vector_search_go_spark.operators.argmin import scan_topk
    from vector_search_go_spark.operators.exact_knn import exact_local_topk_kernel
    from vector_search_go_spark.operators.pq import (
        ivfpq_adc_scores_fused,
        pq_adc_scores_fused,
        pq_codebook,
    )
    from vector_search_go_spark.operators.sq8 import sq8_search, sq8_stats

    rng = np.random.default_rng(3)
    C = rng.normal(size=(200, 64))
    corpus = spark.createDataFrame(
        [(i, list(map(float, C[i]))) for i in range(len(C))],
        "id bigint, vec array<double>",
    )
    empty_q = spark.createDataFrame([], "query_id bigint, qvec array<double>")
    cents = (np.arange(4), C[:4])
    cb = pq_codebook(
        corpus.select(F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    )
    if family == "ivf":
        out = ivf_scores_fused(
            corpus, cents, {}, [], metric="l2", local_topk=5, truth_k=truth_k
        )
    elif family == "pq":
        out = pq_adc_scores_fused(
            corpus, cb, queries=empty_q, local_topk=20, truth_k=truth_k
        )
    elif family == "ivfadc":
        out = ivfpq_adc_scores_fused(
            corpus, cb, cents, {}, [], local_topk=20, truth_k=truth_k
        )
    elif family == "sq8":
        out = sq8_search(
            empty_q, sq8_stats(corpus, 64), corpus, k=5, shortlist=20,
            truth_k=truth_k,
        )
    elif truth_k is None:
        out = exact_knn_join(empty_q, corpus, metric="l2", k=5)
    else:
        # exact search through the scan driver itself: its pred side is
        # the candidate frame that exact_knn_join's topk consumes
        out = scan_topk(
            corpus, [], lambda rows: exact_local_topk_kernel(rows, "l2", 5),
            "dist", "l2", truth_k,
        )
    want = _EMPTY_PRED_SCHEMA[family]
    if family == "exact" and truth_k is not None:
        want = _EMPTY_PRED_SCHEMA["ivf"]
    pred, truth = out if truth_k is not None else (out, None)
    assert pred.schema.simpleString() == want
    assert pred.count() == 0
    if truth is not None:
        assert truth.schema.simpleString() == (
            "struct<query_id:bigint,id:bigint,dist:double,rn:int>"
        )
        assert truth.count() == 0


def test_precision_recall_zero_side_null_semantics(spark):
    """ADVICE r11 (high): a query present only in truth (the ANN
    returned zero candidates) must produce NULL precision / 0.0 recall
    — not an ANSI DIVIDE_BY_ZERO — and a pred-only query the mirror
    image (0.0 precision / NULL recall)."""
    truth = spark.createDataFrame(
        [(0, 1), (0, 2), (7, 3)], "query_id bigint, id bigint"
    )
    pred = spark.createDataFrame([(0, 1), (9, 4)], "query_id bigint, id bigint")
    rows = {
        r["query_id"]: (r["precision"], r["recall"])
        for r in precision_recall(pred, truth).collect()
    }
    assert rows[0] == (1.0, 0.5)
    assert rows[7][0] is None and rows[7][1] == 0.0
    assert rows[9][0] == 0.0 and rows[9][1] is None
