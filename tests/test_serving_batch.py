"""Micro-batch serving parity: for every store family, a batched
Spark point lookup must return BIT-IDENTICAL rows per query to a
single-query lookup of the same family's driver-side reader
(serve.local_reader: pyarrow/numpy, no Spark) on the same saved store —
same candidates, same kernels, same (dist, id) tie-breaks. The
correctness contract behind the SCALE.md serving-latency table
(VERDICT r3 item 2); the Spark single-query lookups are batches of one,
so the reader is the independent reference."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

N, DIMS = 1500, 64  # M_SUB * D_SUB = 64 (pq constants)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    base = tmp_path_factory.mktemp("serving_stores")
    rng = np.random.default_rng(29)
    X = rng.standard_normal((N, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)], "id bigint, vec array<double>"
    )
    cents = corpus.filter(F.col("id") % 100 == 0).select(
        (F.col("id") / 100).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    emb_like = corpus.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )

    idx = LshIndex.train(
        spark, corpus, LshConfig(dims=DIMS, n_trees=8, k_min_vecs=50, seed=13)
    )
    idx.save(str(base / "lsh"))
    ivf_save(spark, corpus, cents, str(base / "ivf"), metric="cosine")
    ivfpq_save(
        spark, corpus, cents, pq_codebook(emb_like), str(base / "ivfpq"), metric="l2"
    )
    # queries: two corpus members + one off-corpus point
    batch = [
        (3, X[42].tolist()),
        (7, X[999].tolist()),
        (11, (X[5] + 0.05 * rng.standard_normal(DIMS)).tolist()),
    ]
    return base, batch


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["id"], r["dist"], r["rn"]))
    return {q: sorted(v) for q, v in out.items()}


def _assert_matches_reader(got, batch, search):
    """``got`` (Spark rows by query) equals ``search(qvec)`` — the
    local reader's one-query lookup — for every query of ``batch``."""
    assert set(got) == {q for q, _ in batch}
    for qid, qvec in batch:
        pdf = search(qvec)
        want = sorted(
            (int(i), float(d), int(r))
            for i, d, r in zip(pdf["id"], pdf["dist"], pdf["rn"])
        )
        assert want, f"query {qid}: the reader found no rows"
        assert got[qid] == want, f"query {qid} diverged from the local reader"


def test_lsh_batch_matches_single(spark, stores):
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.lsh.search import lsh_point_search_batch
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, batch = stores
    path = str(base / "lsh")
    forest = LshIndex.load_forest(spark, path)
    got = _by_query(
        lsh_point_search_batch(
            spark, path, batch, metric="l2", k=5, forest=forest
        ).collect()
    )
    reader = LocalLshReader(path, metric="l2")
    _assert_matches_reader(got, batch, lambda q: reader.search(q, k=5))


def test_ivf_batch_matches_single(spark, stores):
    from vector_search_go_spark.operators.ann_ivf import (
        ivf_point_search_batch,
        load_ivf_model,
    )
    from vector_search_go_spark.serve.local_reader import LocalIvfReader

    base, batch = stores
    path = str(base / "ivf")
    model = load_ivf_model(spark, f"{path}/centroids")
    got = _by_query(
        ivf_point_search_batch(
            spark, path, batch, metric="cosine", k=5, nprobe=3, model=model
        ).collect()
    )
    reader = LocalIvfReader(path, metric="cosine")
    _assert_matches_reader(got, batch, lambda q: reader.search(q, k=5, nprobe=3))


def test_ivfpq_batch_matches_single(spark, stores):
    from vector_search_go_spark.operators.pq import (
        ivfpq_point_search_batch,
        load_ivfpq_models,
    )
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, batch = stores
    path = str(base / "ivfpq")
    models = load_ivfpq_models(spark, path)
    got = _by_query(
        ivfpq_point_search_batch(
            spark, path, batch, metric="l2", k=5, nprobe=3, models=models
        ).collect()
    )
    reader = LocalIvfPqReader(path)
    _assert_matches_reader(got, batch, lambda q: reader.search(q, k=5, nprobe=3))


def test_batch_input_validation(spark, stores):
    from vector_search_go_spark.lsh.search import lsh_point_search_batch
    from vector_search_go_spark.operators.ann_ivf import ivf_point_search_batch
    from vector_search_go_spark.operators.pq import ivfpq_point_search_batch

    base, batch = stores
    v = batch[0][1]
    with pytest.raises(ValueError, match="at least one"):
        lsh_point_search_batch(spark, str(base / "lsh"), [], metric="l2")
    with pytest.raises(ValueError, match="duplicate query_id"):
        ivf_point_search_batch(spark, str(base / "ivf"), [(1, v), (1, v)])
    with pytest.raises(ValueError, match="squared L2"):
        ivfpq_point_search_batch(
            spark, str(base / "ivfpq"), [(1, v)], metric="cosine"
        )
