"""Scan-store serving parity: operators.exact_knn.scan_save +
serve.local_reader.LocalScanReader must return BIT-IDENTICAL rows to
exact_knn_join on the same corpus — the serving tier for the measured
advisor's "don't index, scan" verdict (SCALE.md angular probes;
reference anchor: NNMock's full-scan Search, annbench/annbench.go:56-125)."""

from __future__ import annotations

import numpy as np
import pytest

# N > TWO_STAGE_MIN_PAIRS puts the two-stage BLAS path on the tested path
N, DIMS = 3000, 32


@pytest.fixture(scope="module")
def scan_store(spark, tmp_path_factory):
    from vector_search_go_spark.operators.exact_knn import scan_save

    base = tmp_path_factory.mktemp("scan_store")
    rng = np.random.default_rng(83)
    X = rng.standard_normal((N, DIMS))
    # duplicate block: identical vectors => identical distances, so the
    # (dist, id) tie-break is ON the tested path, not vacuous
    X[2900:] = X[2900]
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)], "id bigint, vec array<double>"
    )
    path_l2 = str(base / "l2")
    path_cos = str(base / "cos")
    scan_save(spark, corpus, path_l2, metric="l2")
    scan_save(spark, corpus, path_cos, metric="cosine")
    queries = [
        X[42],
        X[2900],  # the duplicated point — ties decided by id
        X[7] + 0.05 * rng.standard_normal(DIMS),
    ]
    return corpus, X, path_l2, path_cos, queries


def _spark_rows(df):
    return [
        (int(r["query_id"]), int(r["id"]), float(r["dist"]), int(r["rn"]))
        for r in df.orderBy("rn").collect()
    ]


def _frame_rows(pdf):
    return [
        (int(r.query_id), int(r.id), float(r.dist), int(r.rn))
        for r in pdf.itertuples()
    ]


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_scan_reader_bit_identical_to_exact_knn(spark, scan_store, metric):
    from vector_search_go_spark.operators.exact_knn import exact_knn_join
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    corpus, X, path_l2, path_cos, queries = scan_store
    reader = LocalScanReader(path_l2 if metric == "l2" else path_cos)
    assert reader.metric == metric and len(reader) == N
    for qi, q in enumerate(queries):
        qdf = spark.createDataFrame(
            [(qi, q.tolist())], "query_id bigint, qvec array<double>"
        )
        want = _spark_rows(exact_knn_join(qdf, corpus, metric=metric, k=10))
        got = _frame_rows(reader.search(q, k=10, query_id=qi))
        assert got == want


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_scan_reader_threshold_parity(spark, scan_store, big_id_scan_stores, metric):
    from vector_search_go_spark.operators.exact_knn import exact_knn_join
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    corpus, X, path_l2, path_cos, queries = scan_store
    reader = LocalScanReader(path_l2 if metric == "l2" else path_cos)
    q = queries[2]
    # pick a threshold that genuinely splits the top-k (between the 3rd
    # and 4th neighbor distance)
    full = reader.search(q, k=10)
    thr = float((full.dist.iloc[2] + full.dist.iloc[3]) / 2)
    qdf = spark.createDataFrame(
        [(0, q.tolist())], "query_id bigint, qvec array<double>"
    )
    want = _spark_rows(
        exact_knn_join(qdf, corpus, metric=metric, k=10, threshold=thr)
    )
    got = _frame_rows(reader.search(q, k=10, threshold=thr))
    assert got == want
    assert 0 < len(got) < 10

    # a batch where the threshold empties one query keeps the store's
    # int64 ids: an empty float64 frame in the concat would promote the
    # whole column and round ids past 2**53
    base, ids, X = big_id_scan_stores
    big = LocalScanReader(f"{base}/{metric}")
    got = big.search_many([X[2], X[2] + 100], k=3, threshold=1e-9)
    assert got["id"].dtype == np.int64
    assert got["id"].tolist() == [int(ids[2])]



def test_scan_search_many_equals_per_query(scan_store):
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    _, X, path_l2, _, queries = scan_store
    reader = LocalScanReader(path_l2)
    batched = reader.search_many(np.asarray(queries), k=7, query_ids=[5, 6, 7])
    singles = [
        _frame_rows(reader.search(q, k=7, query_id=qid))
        for q, qid in zip(queries, [5, 6, 7])
    ]
    assert _frame_rows(batched) == [row for rows in singles for row in rows]


def test_scan_reader_small_store_exact_path(spark, tmp_path):
    """Under the TWO_STAGE_MIN_PAIRS cutoff the single-stage exact kernel
    serves; parity must hold there too."""
    from vector_search_go_spark.config import TWO_STAGE_MIN_PAIRS
    from vector_search_go_spark.operators.exact_knn import (
        exact_knn_join,
        scan_save,
    )
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    rng = np.random.default_rng(89)
    X = rng.standard_normal((200, DIMS))
    assert len(X) <= TWO_STAGE_MIN_PAIRS
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(200)],
        "id bigint, vec array<double>",
    )
    path = str(tmp_path / "small")
    scan_save(spark, corpus, path, metric="l2")
    reader = LocalScanReader(path)
    qdf = spark.createDataFrame(
        [(0, X[3].tolist())], "query_id bigint, qvec array<double>"
    )
    want = _spark_rows(exact_knn_join(qdf, corpus, metric="l2", k=5))
    assert _frame_rows(reader.search(X[3], k=5)) == want


def test_scan_reader_metric_guards(scan_store):
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    _, _, path_l2, _, _ = scan_store
    with pytest.raises(ValueError, match="metric"):
        LocalScanReader(path_l2, metric="cosine")
    # explicit matching metric is fine
    assert LocalScanReader(path_l2, metric="l2").metric == "l2"


def test_scan_reader_refuses_other_families(spark, tmp_path):
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    rng = np.random.default_rng(97)
    X = rng.standard_normal((300, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(300)],
        "id bigint, vec array<double>",
    )
    path = str(tmp_path / "ivf")
    cents = kmeans_fit(corpus, 4, iters=2, dim=DIMS)
    ivf_save(spark, corpus, cents, path, metric="l2")
    with pytest.raises(ValueError, match="'ivf' store"):
        LocalScanReader(path)


def test_engine_exact_save_load_serve_roundtrip(spark, scan_store, tmp_path):
    """backend='exact' through the full facade: train -> save -> load
    -> local_reader -> search parity with the live engine."""
    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.serve.local_reader import LocalScanReader

    corpus, X, *_ = scan_store
    eng = VectorSearchEngine(spark, metric="l2", backend="exact")
    eng.train(corpus)
    path = str(tmp_path / "engine_scan")
    eng.save(path)

    with pytest.raises(ValueError, match="metric"):
        VectorSearchEngine.load(spark, path, metric="cosine")
    loaded = VectorSearchEngine.load(spark, path, metric="l2")
    assert loaded.backend == "exact"

    q = X[11]
    qdf = spark.createDataFrame(
        [(0, q.tolist())], "query_id bigint, qvec array<double>"
    )
    want = _spark_rows(loaded.search(qdf, k=8))
    reader = loaded.local_reader(path)
    assert isinstance(reader, LocalScanReader)
    assert _frame_rows(reader.search(q, k=8)) == want
    with pytest.raises(ValueError, match="preload"):
        loaded.local_reader(path, preload_buckets=True)


def test_engine_load_routes_legacy_lsh_store_not_scan(spark, tmp_path):
    """A legacy LSH store (single-JSON 'model' dir, NO model_nodes)
    must still route to the LSH loader — the scan-store discriminator
    is the ABSENCE of buckets, not of model_nodes. Routing it to scan
    would silently discard the index and turn every search into a
    full scan."""
    import shutil

    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.lsh.index import LshIndex

    rng = np.random.default_rng(101)
    X = rng.standard_normal((400, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(400)],
        "id bigint, vec array<double>",
    )
    idx = LshIndex.train(
        spark, corpus, LshConfig(dims=DIMS, n_trees=4, k_min_vecs=50, seed=3)
    )
    path = str(tmp_path / "legacy_lsh")
    idx.save(path)
    # convert to the legacy layout the pre-node-table format used
    spark.createDataFrame(
        [(idx.forest.to_json(),)], "model_json string"
    ).coalesce(1).write.mode("overwrite").json(f"{path}/model")
    shutil.rmtree(f"{path}/model_nodes")
    shutil.rmtree(f"{path}/model_config")
    for sub in ("model", "model_nodes", "model_config"):
        spark.catalog.refreshByPath(f"{path}/{sub}")
    eng = VectorSearchEngine.load(spark, path, metric="l2")
    assert eng.backend == "lsh"


def test_scan_save_refuses_empty_corpus(spark, tmp_path):
    from vector_search_go_spark.operators.exact_knn import scan_save

    empty = spark.createDataFrame([], "id bigint, vec array<double>")
    with pytest.raises(ValueError, match="empty"):
        scan_save(spark, empty, str(tmp_path / "empty_scan"))


def test_engine_maintain_noop_on_scan_store(spark, scan_store):
    from vector_search_go_spark.engine import VectorSearchEngine

    _, _, path_l2, _, _ = scan_store
    res = VectorSearchEngine.maintain(spark, path_l2)
    assert res == {
        "action": "none",
        "family": "scan",
        "reason": "scan stores have no index model to drift",
    }
