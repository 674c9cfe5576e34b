"""End-to-end tiny ANN test (reference lsh/lsh_test.go:281-341,
FIXTURES.md A1): 6 hand-placed 2-D points in two clusters; searching
from a cluster member returns 3-4 neighbors (range assertion — the
index is randomized) for both metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.config import LshConfig
from vector_search_go_spark.lsh.index import LshIndex
from vector_search_go_spark.lsh.search import lsh_search

POINTS = [
    (0, [0.1, 0.1]),
    (1, [0.1, 0.08]),
    (2, [0.11, 0.09]),
    (3, [0.09, 0.11]),
    (4, [-0.1, 0.1]),
    (5, [-0.1, 0.08]),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(POINTS, "id bigint, vec array<double>")


def _search(spark, corpus, metric, threshold):
    cfg = LshConfig(dims=2, n_trees=10, k_min_vecs=2, is_angular=(metric != "l2"))
    idx = LshIndex.train(spark, corpus, cfg)
    queries = spark.createDataFrame(
        [(0, [0.1, 0.1])], "query_id bigint, qvec array<double>"
    )
    return lsh_search(idx, queries, metric=metric, k=4, threshold=threshold).collect()


def test_lsh_l2(spark, corpus):
    # L2, maxNN=4, thresh=0.02 (lsh_test.go:321-341)
    rows = _search(spark, corpus, "l2", 0.02)
    assert 3 <= len(rows) <= 4
    ids = {r["id"] for r in rows}
    assert ids <= {0, 1, 2, 3}  # same-cluster only
    assert rows[0]["id"] == 0 and rows[0]["dist"] == 0.0  # self is nearest


def test_lsh_cosine(spark, corpus):
    # cosine, maxNN=4, thresh=0.2 (lsh_test.go:297-319)
    rows = _search(spark, corpus, "cosine", 0.2)
    assert 3 <= len(rows) <= 4
    assert {r["id"] for r in rows} <= {0, 1, 2, 3}


def test_index_save_load(spark, corpus, tmp_path):
    cfg = LshConfig(dims=2, n_trees=5, k_min_vecs=2)
    idx = LshIndex.train(spark, corpus, cfg)
    path = str(tmp_path / "lsh_index")
    idx.save(path)
    idx2 = LshIndex.load(spark, path)
    assert idx2.config.n_trees == 5
    before = {(r["tree"], r["hash"], r["id"]) for r in idx.buckets.collect()}
    after = {(r["tree"], r["hash"], r["id"]) for r in idx2.buckets.collect()}
    assert before == after
    queries = spark.createDataFrame(
        [(0, [0.1, 0.1])], "query_id bigint, qvec array<double>"
    )
    r1 = lsh_search(idx, queries, metric="l2", k=3).collect()
    r2 = lsh_search(idx2, queries, metric="l2", k=3).collect()
    assert [(r["id"], r["dist"]) for r in r1] == [(r["id"], r["dist"]) for r in r2]


def test_load_forest_fallback_is_narrow_and_logged(
    spark, corpus, tmp_path, monkeypatch, caplog
):
    """The driver-side model read falls back to the Spark reader only
    on read/parse errors, and logs it: a garbled model_config line
    (single-quoted JSON, which Spark's JSON reader accepts and the
    plain parser rejects) still loads the same forest, with a warning;
    a TypeError raised inside the driver read is a bug and
    propagates."""
    import glob
    import json
    import logging
    import os

    import pyarrow.parquet as pa_pq

    idx = LshIndex.train(spark, corpus, LshConfig(dims=2, n_trees=3, k_min_vecs=2))
    path = str(tmp_path / "lsh_index")
    idx.save(path)
    logger = "vector_search_go_spark.lsh.index"
    with caplog.at_level(logging.WARNING, logger=logger):
        want = LshIndex.load_forest(spark, path)
    assert not caplog.records

    part = next(
        f
        for f in sorted(glob.glob(os.path.join(path, "model_config", "*")))
        if not os.path.basename(f).startswith(("_", ".")) and os.path.getsize(f)
    )
    with open(part) as fh:
        good = fh.read()
    cfg_json = json.loads(good.splitlines()[0])["config_json"]
    assert "'" not in cfg_json
    with open(part, "w") as fh:
        fh.write("{'config_json': '" + cfg_json + "'}\n")
    # the rewritten part no longer matches Hadoop's checksum sidecar
    for crc in glob.glob(os.path.join(path, "model_config", ".*.crc")):
        os.remove(crc)
    with caplog.at_level(logging.WARNING, logger=logger):
        got = LshIndex.load_forest(spark, path)
    assert got.to_json() == want.to_json()
    assert any(
        "falling back to the Spark reader" in r.getMessage()
        and "JSONDecodeError" in r.getMessage()
        for r in caplog.records
    )

    with open(part, "w") as fh:
        fh.write(good)

    def broken(*_a, **_k):
        raise TypeError("driver read bug")

    monkeypatch.setattr(pa_pq, "read_table", broken)
    with pytest.raises(TypeError, match="driver read bug"):
        LshIndex.load_forest(spark, path)


def test_max_candidates_cap(spark, corpus):
    cfg = LshConfig(dims=2, n_trees=10, k_min_vecs=2, max_candidates=2)
    idx = LshIndex.train(spark, corpus, cfg)
    queries = spark.createDataFrame(
        [(0, [0.1, 0.1])], "query_id bigint, qvec array<double>"
    )
    rows = lsh_search(idx, queries, metric="l2", k=4).collect()
    assert len(rows) <= 2


def test_dedup_embedding_lsh_recall(spark, tmp_path, monkeypatch):
    """The LSH similarity self-join must recover (nearly) every pair the
    bounded exact all-pairs path finds — the recall gate standing in for
    the DuckDB oracle the bucket traversal can't have."""
    from vector_search_go_spark.operators import model_store
    from vector_search_go_spark.queries_lsh import dedup_embedding_lsh
    from vector_search_go_spark.queries_text import dedup_embedding_cosine

    monkeypatch.setattr(model_store, "MODEL_DIR", str(tmp_path / "models"))
    sf_dir = "/root/testdata/sf0.01"
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup_embedding_lsh(spark, sf_dir).collect()
    }
    # exact path is bounded to vec_id < 200; compare on that subset
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    got_bounded = {(a, b) for (a, b) in got if a < 200 and b < 200}
    assert want, "exact path found no pairs — fixture drifted"
    recall = len(got_bounded & want) / len(want)
    assert recall >= 0.9, (recall, want - got_bounded)
    # every LSH pair must be exact-verified (cos_dist filter) — no
    # false positives against the same threshold
    assert got_bounded <= want or recall == 1.0


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_point_search_matches_batch(spark, tmp_path, metric):
    """Point lookup over the persisted store == batch search over the
    live index, row for row (ids, bit-exact dists, ranks) — on the real
    sf0.01 embeddings."""
    from vector_search_go_spark.lsh.search import lsh_point_search
    from vector_search_go_spark.operators.exact_knn import embeddings_split

    queries, corpus = embeddings_split(spark, "/root/testdata/sf0.01")
    cfg = LshConfig(
        dims=64, n_trees=8, k_min_vecs=50, seed=13, is_angular=(metric != "l2")
    )
    idx = LshIndex.train(spark, corpus, cfg)
    path = str(tmp_path / f"idx_{metric}")
    idx.save(path)
    qrows = queries.limit(3).collect()
    batch = lsh_search(
        idx, spark.createDataFrame(qrows, queries.schema), metric=metric, k=5
    ).collect()
    for qr in qrows:
        want = sorted(
            (r["id"], r["dist"], r["rn"]) for r in batch if r["query_id"] == qr["query_id"]
        )
        got = sorted(
            (r["id"], r["dist"], r["rn"])
            for r in lsh_point_search(
                spark, path, qr["qvec"], metric=metric, k=5
            ).collect()
        )
        assert got == want


def test_hot_bucket_bound(spark, tmp_path, monkeypatch):
    """Adversarial duplicate-heavy corpus — the unsplittable-bucket
    regime (k_min_vecs bounds bucket MINIMUM size only; identical
    vectors share every hash, so no tree can split them apart):

    (a) search: bound_hot_buckets thins the hot bucket to ~cap members
        deterministically, leaves healthy buckets untouched, and a
        capped index still answers exactly inside and outside the
        duplicate cluster;
    (b) dedup: dedup_embedding_lsh emits linear sorted-neighborhood
        CHAIN pairs for the oversized bucket — candidates linear in
        bucket size, the duplicate cluster still one connected
        component."""
    import numpy as np

    from vector_search_go_spark.lsh.search import bound_hot_buckets

    rng = np.random.default_rng(7)
    dup = rng.standard_normal(8)
    dups = [(i, [float(x) for x in dup]) for i in range(2000)]
    rand = [
        (10_000 + i, [float(x) for x in rng.standard_normal(8)])
        for i in range(300)
    ]
    corpus = spark.createDataFrame(dups + rand, "id bigint, vec array<double>")
    cfg = LshConfig(dims=8, n_trees=4, k_min_vecs=10, seed=7, max_bucket_size=50)
    idx = LshIndex.train(spark, corpus, cfg)

    stats = {(r["tree"], r["hash"]): r["sz"] for r in idx.bucket_stats().collect()}
    assert max(stats.values()) >= 2000  # the adversarial bucket exists
    thinned = (
        bound_hot_buckets(idx.buckets, idx.bucket_stats(), 50)
        .groupBy("tree", "hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    )
    tstats = {(r["tree"], r["hash"]): r["sz"] for r in thinned}
    for k, sz in tstats.items():
        if stats[k] <= 50:
            assert sz == stats[k]  # healthy buckets untouched
        else:
            assert sz <= 150  # ~cap in expectation, bounded
    # idempotent-deterministic: same thinning on a second evaluation
    again = {
        (r["tree"], r["hash"]): r["sz"]
        for r in bound_hot_buckets(idx.buckets, idx.bucket_stats(), 50)
        .groupBy("tree", "hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .collect()
    }
    assert again == tstats

    queries = spark.createDataFrame(
        [(0, [float(x) for x in dup]), (1, rand[0][1])],
        "query_id bigint, qvec array<double>",
    )
    got = lsh_search(idx, queries, metric="l2", k=10).collect()
    in_cluster = [r for r in got if r["query_id"] == 0]
    assert len(in_cluster) == 10 and all(r["dist"] == 0.0 for r in in_cluster)
    outside = [r for r in got if r["query_id"] == 1 and r["rn"] == 1]
    assert outside and outside[0]["id"] == 10_000 and outside[0]["dist"] == 0.0

    # the SERVING paths must honor the cap too: same thinned survivor
    # set (sz over a pruned scan == sz over the store), so point
    # lookups on the persisted index return exactly lsh_search's rows
    from vector_search_go_spark.lsh.search import (
        lsh_point_search,
        lsh_point_search_batch,
    )

    path = str(tmp_path / "capped_idx")
    idx.save(path)
    forest = LshIndex.load_forest(spark, path)
    assert forest.config.max_bucket_size == 50  # cap round-trips
    want = {(r["query_id"], r["id"], r["dist"], r["rn"]) for r in got}
    batch = lsh_point_search_batch(
        spark,
        path,
        [(0, dups[0][1]), (1, rand[0][1])],
        "l2",
        k=10,
        forest=forest,
    ).collect()
    assert {(r["query_id"], r["id"], r["dist"], r["rn"]) for r in batch} == want
    single = lsh_point_search(
        spark, path, dups[0][1], "l2", k=10, forest=forest, query_id=0
    ).collect()
    assert {(r["query_id"], r["id"], r["dist"], r["rn"]) for r in single} == {
        t for t in want if t[0] == 0
    }

    # (b) dedup chain on an oversized (>800) duplicate bucket
    from vector_search_go_spark.operators import model_store
    from vector_search_go_spark.queries_lsh import dedup_embedding_lsh

    monkeypatch.setattr(model_store, "MODEL_DIR", str(tmp_path / "models"))
    sf = tmp_path / "sf_adversarial"
    sf.mkdir()
    dup64 = rng.standard_normal(64)
    rows = [(1000 + i, [float(x) for x in dup64]) for i in range(900)] + [
        (5000 + i, [float(x) for x in rng.standard_normal(64)])
        for i in range(300)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).write.parquet(str(sf / "embeddings.parquet"))

    pairs = dedup_embedding_lsh(spark, str(sf)).collect()
    dup_pairs = {
        (r["id_a"], r["id_b"])
        for r in pairs
        if r["id_a"] < 2000 and r["id_b"] < 2000
    }
    # linear width-2 chain (identical projections sort by id), not the
    # 900*899/2 = 404550 all-pairs set
    assert dup_pairs == {
        (1000 + i, 1000 + i + d)
        for i in range(900)
        for d in (1, 2)
        if i + d < 900
    }
    # ...and the cluster is ONE connected component of the pair graph
    parent = {1000 + i: 1000 + i for i in range(900)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b_ in dup_pairs:
        parent[find(a)] = find(b_)
    assert len({find(1000 + i) for i in range(900)}) == 1
    assert all(r["cos_dist"] <= 0.6 for r in pairs)


def test_hot_bucket_chain_connectivity(spark):
    """The failure mode the min-id STAR anchor had: a hot bucket whose
    lowest id is NOT a duplicate (plus TWO distinct duplicate clusters
    sharing the bucket). The star emitted only (anchor, member) pairs —
    all failing the cos <= 0.6 verification — and dropped both clusters
    entirely. The sorted-neighborhood chain must keep each cluster a
    single connected component after verification, with <= width*|bucket|
    candidate pairs."""
    import numpy as np

    from vector_search_go_spark.queries_lsh import hot_bucket_chain_pairs

    rng = np.random.default_rng(3)
    vA = rng.standard_normal(16)
    vB = rng.standard_normal(16)
    v_out = rng.standard_normal(16)
    rows = (
        [(0, 0, 1, [float(x) for x in v_out])]  # foreign member, MIN id
        + [(0, 0, 100 + i, [float(x) for x in vA]) for i in range(400)]
        + [(0, 0, 600 + i, [float(x) for x in vB]) for i in range(400)]
    )
    # an at-least-once replayed duplicate row must NOT yield a
    # degenerate (x, x) self-pair
    members = spark.createDataFrame(
        rows + [rows[5]], "tree int, hash bigint, id bigint, vec array<double>"
    )
    cand = hot_bucket_chain_pairs(members, dims=16, seed=23).collect()
    assert len(cand) <= 2 * (len(rows) + 1)
    assert all(r["id_a"] != r["id_b"] for r in cand)

    def cos(a, b):
        return 1.0 - float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    vecs = {r[2]: np.asarray(r[3]) for r in rows}
    verified = [
        (r["id_a"], r["id_b"])
        for r in cand
        if cos(vecs[r["id_a"]], vecs[r["id_b"]]) <= 0.6
    ]
    parent = {r[2]: r[2] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        parent[find(a)] = find(b)
    assert len({find(100 + i) for i in range(400)}) == 1  # cluster A intact
    assert len({find(600 + i) for i in range(400)}) == 1  # cluster B intact
    assert find(1) not in {find(100), find(600)}  # outlier not merged
