"""Arrow argmin == expression argmin, bit for bit.

The Arrow path (operators.argmin.argmin_id_arrow, pq_encode
impl='arrow') replaces interpreted higher-order-lambda folds with numpy
kernels that accumulate distances in the SAME sequential per-dimension
IEEE order. These tests pin the bit-identity claim on the real
testdata, across every metric and the PQ subspace encoding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).cache()


@pytest.fixture(scope="module")
def cents(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.filter(F.col("vec_id") % 17 == 5).select(
        (F.col("vec_id") / 17).cast("int").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    ).cache()


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_assign_cells_impl_parity(spark, corpus, cents, metric):
    from vector_search_go_spark.operators.ann_ivf import assign_cells

    a = {r["id"]: r["cell"] for r in
         assign_cells(corpus, cents, metric=metric, impl="expr").collect()}
    b = {r["id"]: r["cell"] for r in
         assign_cells(corpus, cents, metric=metric, impl="arrow").collect()}
    assert a == b


def test_kmeans_assign_impl_parity(spark, corpus, cents):
    from vector_search_go_spark.operators.kmeans import kmeans_assign

    a = {r["id"]: r["cell"] for r in
         kmeans_assign(corpus, cents, impl="expr").collect()}
    b = {r["id"]: r["cell"] for r in
         kmeans_assign(corpus, cents, impl="arrow").collect()}
    assert a == b


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_exact_knn_impl_parity(spark, metric):
    from vector_search_go_spark.operators.exact_knn import (
        embeddings_split,
        exact_knn_join,
    )

    queries, corpus = embeddings_split(spark, SF_DIR)
    a = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         exact_knn_join(queries, corpus, metric=metric, k=10, impl="expr").collect()]
    b = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         exact_knn_join(queries, corpus, metric=metric, k=10, impl="arrow").collect()]
    assert sorted(a) == sorted(b)  # dists compared bit-exactly via ==


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_lsh_search_impl_parity(spark, metric):
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.lsh.search import lsh_search
    from vector_search_go_spark.operators.exact_knn import embeddings_split

    queries, corpus = embeddings_split(spark, SF_DIR)
    cfg = LshConfig(
        dims=64, n_trees=8, k_min_vecs=50, seed=11, is_angular=(metric != "l2")
    )
    idx = LshIndex.train(spark, corpus, cfg)
    a = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         lsh_search(idx, queries, metric=metric, k=5, impl="expr").collect()]
    b = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         lsh_search(idx, queries, metric=metric, k=5, impl="arrow").collect()]
    assert sorted(a) == sorted(b)
    c = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         lsh_search(idx, queries, metric=metric, k=5, impl="fanin").collect()]
    assert sorted(a) == sorted(c)


def test_pq_encode_impl_parity(spark, corpus):
    from vector_search_go_spark.operators.pq import pq_codebook, pq_encode

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebook(emb)
    a = {(r["id"], r["sub"]): r["code"] for r in
         pq_encode(corpus, cb, impl="expr").collect()}
    b = {(r["id"], r["sub"]): r["code"] for r in
         pq_encode(corpus, cb, impl="arrow").collect()}
    assert a == b


def test_sq8_search_impl_parity(spark):
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.sq8 import (
        sq8_encode,
        sq8_search,
        sq8_stats,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    stats = sq8_stats(corpus, 64)
    codes = sq8_encode(corpus, stats, 64)
    a = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         sq8_search(queries, codes, stats, corpus, 64, impl="expr").collect()]
    # the arrow impl encodes the corpus itself inside its one scan
    b = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         sq8_search(queries, None, stats, corpus, 64, impl="arrow").collect()]
    assert sorted(a) == sorted(b)


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_ivf_search_impl_parity(spark, metric):
    from vector_search_go_spark.operators.ann_ivf import assign_cells, ivf_search
    from vector_search_go_spark.operators.exact_knn import embeddings_split
    from vector_search_go_spark.operators.kmeans import kmeans_init

    queries, corpus = embeddings_split(spark, SF_DIR)
    cents = kmeans_init(corpus, k=8)
    cells = assign_cells(corpus, cents, metric=metric)
    a = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         ivf_search(queries, cells, cents, metric=metric, k=5, nprobe=3, impl="expr").collect()]
    b = [(r["query_id"], r["id"], r["dist"], r["rn"]) for r in
         ivf_search(queries, cells, cents, metric=metric, k=5, nprobe=3, impl="arrow").collect()]
    assert sorted(a) == sorted(b)
