"""Parity pins for the fused corpus-scan kernels: every fused path
must be bit-identical to the unfused operator chain or numpy reference
it replaced, and the truth rows riding a fused corpus scan must equal
exact_knn_join's output exactly (same kernels, same (dist, id) order)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.operators.exact_knn import exact_knn_join
from vector_search_go_spark.operators.topk import topk_per_group


def _mk(spark, n_c=300, n_q=7, dim=8, seed=11):
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_c, dim))
    Q = rng.normal(size=(n_q, dim))
    corpus = spark.createDataFrame(
        [(i, list(map(float, C[i]))) for i in range(n_c)],
        "id bigint, vec array<double>",
    ).repartition(3)
    queries = spark.createDataFrame(
        [(j * 10, list(map(float, Q[j]))) for j in range(n_q)],
        "query_id bigint, qvec array<double>",
    )
    return corpus, queries


def _rows(df, cols=("query_id", "id", "dist", "rn")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_ivf_scores_fused_matches_ivf_search(spark, metric):
    from vector_search_go_spark.operators.ann_ivf import (
        assign_cells,
        ivf_scores_fused,
        ivf_search,
        probe_cells,
    )
    from vector_search_go_spark.operators.argmin import collect_centroids

    corpus, queries = _mk(spark)
    cents = corpus.filter(F.col("id") % 29 == 1).select(
        F.col("id").cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    old = ivf_search(
        queries, assign_cells(corpus, cents, metric=metric), cents,
        metric=metric, k=5, nprobe=3,
    )
    qrows = sorted(
        queries.select("query_id", "qvec").collect(), key=lambda r: r["query_id"]
    )
    cids, cmat = collect_centroids(cents)
    c2q: dict = {}
    probed = probe_cells([r["qvec"] for r in qrows], (cids, cmat), metric, 3)
    for r, cs in zip(qrows, probed):
        for c in cs:
            c2q.setdefault(int(c), []).append(int(r["query_id"]))
    cand = ivf_scores_fused(
        corpus, (cids, cmat), c2q, qrows, metric=metric, local_topk=5
    )
    new = topk_per_group(cand, ["query_id"], "dist", 5, tiebreak_cols=["id"]).select(
        "query_id", "id", "dist", "rn"
    )
    assert _rows(old) == _rows(new)


def test_pq_adc_scores_fused_matches_unfused(spark):
    """The fused encode+ADC scan equals an in-test numpy reference bit
    for bit: per-subspace first-min argmin encode, a direct
    squared-difference table per query, and the M_SUB table entries
    summed in subspace order — over the full mesh and after the
    local_topk=20 truncation feeding a global top-20."""
    from vector_search_go_spark.operators.pq import (
        D_SUB,
        M_SUB,
        N_CODES,
        pq_adc_scores_fused,
        pq_codebook,
    )

    corpus, queries = _mk(spark, n_c=260, dim=64, seed=3)
    emb = corpus.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    ).filter(F.col("vec_id") < N_CODES + 200)
    cb = pq_codebook(emb)
    qrows = queries.select("query_id", "qvec").collect()

    cb_rows = sorted(cb.collect(), key=lambda r: (r["sub"], r["code"]))
    books = np.array(
        [[list(r["cvec"]) for r in cb_rows if r["sub"] == s] for s in range(M_SUB)]
    )
    crows = sorted(corpus.collect(), key=lambda r: r["id"])
    ids = np.array([r["id"] for r in crows])
    V = np.array([list(r["vec"]) for r in crows])

    def sq(a, b):
        # squared L2 over the last axis, one dimension at a time
        t = 0.0
        for d in range(D_SUB):
            diff = a[..., d] - b[..., d]
            t = t + diff * diff
        return t

    sub = [slice(s * D_SUB, (s + 1) * D_SUB) for s in range(M_SUB)]
    codes = np.stack(
        [sq(V[:, None, sub[s]], books[s][None]).argmin(axis=1) for s in range(M_SUB)],
        axis=1,
    )
    want = []
    for r in qrows:
        q = np.array(list(r["qvec"]))
        acc = 0.0
        for s in range(M_SUB):
            table = sq(q[None, sub[s]], books[s])
            acc = acc + table[codes[:, s]]
        want += [(r["query_id"], i, d) for i, d in zip(ids, np.sqrt(acc))]
    want.sort()

    def arr(rows):
        return np.array(rows, dtype=object)

    cols = ("query_id", "id", "approx_dist")
    full = _rows(pq_adc_scores_fused(corpus, cb, qrows=qrows), cols)
    assert np.array_equal(arr(full), arr(want))

    cand = pq_adc_scores_fused(corpus, cb, qrows=qrows, local_topk=20)
    top = topk_per_group(cand, ["query_id"], "approx_dist", 20, tiebreak_cols=["id"])
    want_top = []
    for qid in sorted({w[0] for w in want}):
        per_q = sorted((w for w in want if w[0] == qid), key=lambda w: (w[2], w[1]))
        want_top += per_q[:20]
    assert np.array_equal(arr(_rows(top, cols)), arr(sorted(want_top)))


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_fused_truth_rows_match_exact_knn_join(spark, metric):
    """The truth chain riding a fused corpus scan (here: the IVF fused
    kernel; every family's truth_k runs the same scan_topk truth
    kernel) must reproduce exact_knn_join bit-for-bit."""
    from vector_search_go_spark.operators.ann_ivf import (
        ivf_scores_fused,
        probe_cells,
    )
    from vector_search_go_spark.operators.argmin import collect_centroids

    corpus, queries = _mk(spark, seed=7)
    cents = corpus.filter(F.col("id") % 31 == 0).select(
        F.col("id").cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    qrows = sorted(
        queries.select("query_id", "qvec").collect(), key=lambda r: r["query_id"]
    )
    cids, cmat = collect_centroids(cents)
    c2q: dict = {}
    probed = probe_cells([r["qvec"] for r in qrows], (cids, cmat), metric, 2)
    for r, cs in zip(qrows, probed):
        for c in cs:
            c2q.setdefault(int(c), []).append(int(r["query_id"]))
    _approx, truth = ivf_scores_fused(
        corpus, (cids, cmat), c2q, qrows, metric=metric, local_topk=5,
        truth_k=5,
    )
    want = exact_knn_join(queries, corpus, metric=metric, k=5)
    assert _rows(want) == _rows(truth)


def test_sq8_search_truth_fn_returns_identical_pair(spark):
    """sq8_search with truth_k returns the same search result as without
    it, paired with exact_knn_join's rows."""
    from vector_search_go_spark.operators.sq8 import sq8_search, sq8_stats

    corpus, queries = _mk(spark, n_c=220, dim=8, seed=5)
    stats = sq8_stats(corpus, 8)
    plain = sq8_search(queries, stats, corpus, k=5, shortlist=20)
    qrows = queries.select("query_id", "qvec").collect()
    fused, truth = sq8_search(
        queries, stats, corpus, k=5, shortlist=20, truth_k=5, qrows=qrows
    )
    assert _rows(plain) == _rows(fused)
    want = exact_knn_join(queries, corpus, metric="l2", k=5)
    assert _rows(want) == _rows(truth)
