"""k-means trainer (operators.kmeans): deterministic init, Lloyd step
semantics, empty-cell retention, exact-vs-avg path agreement. The
bit-exactness of the exact path is proven by the DuckDB oracle on
kmeans_train_centroids (tools/check_correctness.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_search_go_spark.operators.kmeans import (
    kmeans_assign,
    kmeans_fit,
    kmeans_init,
    kmeans_step,
)


def _corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))


def test_init_first_k_by_id(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    cents = kmeans_init(corpus, 8).orderBy("cid").collect()
    first = corpus.orderBy("id").limit(8).collect()
    assert [c["cid"] for c in cents] == list(range(8))
    for c, f in zip(cents, first):
        assert c["cvec"] == [float(x) for x in f["vec"]]


def test_fit_reduces_distortion(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    init = kmeans_init(corpus, 16)
    trained = kmeans_fit(corpus, 16, iters=3)

    def distortion(cents):
        from vector_search_go_spark.functions.metrics import as_double

        a = kmeans_assign(corpus, cents)
        diffsq = F.zip_with(
            as_double(F.col("vec")), as_double(F.col("cvec")),
            lambda x, y: (x - y) * (x - y),
        )
        sq_l2 = F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v)
        best = corpus.crossJoin(F.broadcast(cents)).select(
            "id", sq_l2.alias("d")
        ).groupBy("id").agg(F.min("d").alias("d"))
        return best.agg(F.avg("d")).first()[0]

    d0, d1 = distortion(init), distortion(trained)
    assert d1 < d0, (d0, d1)


def test_exact_and_avg_paths_agree(spark, sf_dir):
    corpus = _corpus(spark, sf_dir).filter(F.col("id") < 100)
    ex = {r["cid"]: r["cvec"] for r in kmeans_fit(corpus, 4, iters=2, exact=True).collect()}
    av = {r["cid"]: r["cvec"] for r in kmeans_fit(corpus, 4, iters=2, exact=False).collect()}
    assert ex.keys() == av.keys()
    for cid in ex:
        for a, b in zip(ex[cid], av[cid]):
            assert abs(a - b) <= 1e-9 * max(1.0, abs(a)), (cid, a, b)


def test_grouped_fit_matches_independent_fits(spark, sf_dir):
    # one grouped Lloyd chain (group=['g']) must equal running an
    # independent kmeans_fit per group value — the property PQ codebook
    # training relies on (one k-means per subspace in a single plan)
    corpus = _corpus(spark, sf_dir).filter(F.col("id") < 120)
    grouped = corpus.withColumn("g", (F.col("id") % 2).cast("int"))
    got = {
        (r["g"], r["cid"]): r["cvec"]
        for r in kmeans_fit(
            grouped, 4, iters=2, exact=True, group=["g"]
        ).collect()
    }
    for gval in (0, 1):
        part = corpus.filter(F.col("id") % 2 == gval)
        want = {r["cid"]: r["cvec"] for r in kmeans_fit(part, 4, iters=2, exact=True).collect()}
        assert {cid: v for (g, cid), v in got.items() if g == gval} == want


def test_empty_cell_keeps_previous_centroid(spark):
    # two identical seed vectors: every point ties to cell 0 (min-cid
    # tie-break), cell 1 goes empty and must retain its init centroid
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),
        (2, [1.0, 1.0]),
        (3, [2.0, 2.0]),
    ]
    corpus = spark.createDataFrame(rows, "id bigint, vec array<double>")
    cents = kmeans_step(corpus, kmeans_init(corpus, 2), dim=2, exact=True)
    got = {r["cid"]: r["cvec"] for r in cents.collect()}
    assert got[1] == [0.0, 0.0]
    assert got[0] == [0.75, 0.75]  # mean of all four points


def test_kmeans_fit_sample_rows(spark):
    """sampled Lloyd (VERDICT r5 item 6): the xxhash64-thinned training
    sample self-disables at or under the bound (bit-identical centroids),
    is deterministic, and on clustered data the sampled centroids assign
    the cluster centers to the same cells as each other (cells track
    clusters, the quality the recall gates measure)."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.kmeans import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(31)
    centers = rng.standard_normal((4, 8)) * 30.0
    X = np.vstack([c + 0.05 * rng.standard_normal((200, 8)) for c in centers])
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "id bigint, vec array<double>",
    )
    # self-disabling: bound >= corpus -> same centroids as the default
    full = kmeans_fit(corpus, 4, iters=2, dim=8).collect()
    same = kmeans_fit(corpus, 4, iters=2, dim=8, sample_rows=2000).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, same))
    # sampled: deterministic, and every true cluster center maps to a
    # DISTINCT cell whose centroid sits inside its cluster (dist << 30)
    s1 = kmeans_fit(corpus, 8, iters=3, dim=8, sample_rows=200, spread_init=True)
    s2 = kmeans_fit(corpus, 8, iters=3, dim=8, sample_rows=200, spread_init=True)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    probes = spark.createDataFrame(
        [(int(i), centers[i].tolist()) for i in range(4)],
        "id bigint, vec array<double>",
    )
    assigned = kmeans_assign(probes, s1).collect()
    cents = {r["cid"]: np.array(r["cvec"]) for r in s1.collect()}
    for r in assigned:
        d = np.linalg.norm(cents[r["cell"]] - centers[r["id"]])
        assert d < 1.0, (r["id"], d)
