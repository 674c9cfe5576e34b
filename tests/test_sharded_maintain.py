"""Sharded-layout maintenance + streaming ingest (VERDICT r6 items 2/4):
drift staleness measured on the WHOLE sharded store, one-model rebuilds
into save(shards=N), shard-routed streaming appends, hot_buckets
refresh, and per-shard compaction — with row-for-row serving parity
pinned against an unsharded twin built from the sharded store's OWN
artifacts (same model + union of shard rows), so the comparison never
depends on retrain bit-determinism across layouts."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.config import LshConfig
from vector_search_go_spark.lsh.index import LshIndex

DIMS = 16
CFG = LshConfig(dims=DIMS, n_trees=8, k_min_vecs=20, seed=3, max_bucket_size=40)


def _df(spark, X, start_id=0):
    return spark.createDataFrame(
        [(int(start_id + i), X[i].tolist()) for i in range(len(X))],
        "id bigint, vec array<double>",
    )


def _stream(spark, tmp_path, X, start_id, tag):
    land = str(tmp_path / f"land_{tag}")
    _df(spark, X, start_id).write.mode("overwrite").parquet(land)
    return spark.readStream.schema("id bigint, vec array<double>").parquet(land)


def _rows(pdf):
    return [tuple(r) for r in pdf.itertuples(index=False)]


def _lsh_unsharded_twin(spark, path: str, twin_path: str) -> None:
    """Rebuild the single-store layout from a sharded LSH store's OWN
    artifacts: shard=0's model (identical across shards by construction)
    plus the union of shard bucket/vector tables."""
    from vector_search_go_spark.serve.sharded import (
        read_shards_meta,
        union_shard_component,
    )

    n = read_shards_meta(path)["n_shards"]
    forest = LshIndex.load_forest(spark, f"{path}/shard=0")
    LshIndex(
        forest.config,
        forest,
        union_shard_component(spark, path, n, "vectors"),
        union_shard_component(spark, path, n, "buckets"),
    ).save(twin_path)


def test_sharded_lsh_stream_append_then_parity(spark, tmp_path):
    """Item 4's contract: stream into a 3-shard LSH layout (shard-routed
    frozen-model appends + hot_buckets refresh), serve via ShardedReader,
    row-for-row parity vs the unsharded twin of the post-drain store —
    including a streamed duplicate block that pushes a bucket past the
    cap only GLOBALLY (per-shard it stays under), so parity genuinely
    needs the refreshed whole-store keep_mod."""
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import (
        ShardedReader,
        _load_hot_buckets,
    )
    from vector_search_go_spark.streaming.maintain import ingest_cycle

    rng = np.random.default_rng(41)
    A = rng.standard_normal((600, DIMS))
    B = rng.standard_normal((100, DIMS))
    B[40:] = B[40]  # 60 duplicates -> a new over-cap bucket after drain
    path = str(tmp_path / "lsh_sh")
    idx = LshIndex.train(spark, _df(spark, A), CFG)
    idx.save(path, shards=3)
    hot_before = dict(_load_hot_buckets(path))

    res = ingest_cycle(
        spark,
        _stream(spark, tmp_path, B, 600, "b"),
        path,
        str(tmp_path / "ckpt_b"),
        compact_over=None,
        tv_threshold=10.0,
        growth_threshold=10.0,
    )
    assert res["action"] == "none"
    # every shard received its id-hash subset; union == 700
    sizes = [
        spark.read.parquet(f"{path}/shard={k}/vectors").count()
        for k in range(3)
    ]
    assert sum(sizes) == 700 and all(s > 0 for s in sizes)
    # the drain refreshed hot_buckets from GLOBAL sizes: the streamed
    # duplicate bucket appears with its whole-store size
    hot_after = _load_hot_buckets(path)
    assert set(hot_after) - set(hot_before), "drain grew no hot bucket"

    twin = str(tmp_path / "lsh_twin")
    _lsh_unsharded_twin(spark, path, twin)
    single = LocalLshReader(twin, metric="l2")
    with ShardedReader(path, metric="l2") as sharded:
        for q in (A[7], B[40], B[3] + 0.05 * rng.standard_normal(DIMS)):
            assert _rows(sharded.search(q, k=10)) == _rows(
                single.search(q, k=10)
            )


def test_sharded_lsh_cycle_drift_rebuilds(spark, tmp_path):
    """The 6-sigma drift fixture on a 3-shard store: whole-store
    staleness trips, the rebuild retrains ONE forest on the union and
    rewrites every shard + hot_buckets; post-rebuild the sharded reader
    is row-identical to the unsharded twin of its own artifacts and
    finds drifted-region neighbors (recall >= 0.85 vs exact truth)."""
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.streaming.maintain import (
        bucket_staleness,
        ingest_cycle,
    )

    rng = np.random.default_rng(43)
    A = rng.standard_normal((600, DIMS))
    B = rng.standard_normal((600, DIMS)) + 6.0
    path = str(tmp_path / "lsh_drift")
    # the test_maintain drift shape: 16 trees / k_min 50 measure ~0.97
    # eps-recall fresh at this (n, dims) — enough headroom for an
    # exact-set 0.85 gate (the 8-tree CFG sits right at the line)
    drift_cfg = LshConfig(
        dims=DIMS, n_trees=16, k_min_vecs=50, seed=3, max_bucket_size=60
    )
    LshIndex.train(spark, _df(spark, A), drift_cfg).save(path, shards=3)

    res = ingest_cycle(
        spark,
        _stream(spark, tmp_path, B, 600, "bd"),
        path,
        str(tmp_path / "ckpt_bd"),
    )
    assert res["action"] == "rebuilt"
    st = bucket_staleness(spark, path)  # routes sharded itself
    assert st["n_build"] == 1200 * drift_cfg.n_trees
    assert st["tv_drift"] == pytest.approx(0.0)

    twin = str(tmp_path / "lsh_drift_twin")
    _lsh_unsharded_twin(spark, path, twin)
    single = LocalLshReader(twin, metric="l2")
    X = np.vstack([A, B])
    hits = 0
    with ShardedReader(path, metric="l2") as sharded:
        for qi in (605, 731, 1100):
            got = sharded.search(X[qi], k=10)
            assert _rows(got) == _rows(single.search(X[qi], k=10))
            d = np.sqrt(((X - X[qi]) ** 2).sum(axis=1))
            truth = set(np.lexsort((np.arange(len(X)), d))[:10])
            hits += len(set(int(i) for i in got["id"]) & truth)
    assert hits / 30 >= 0.85


def test_sharded_ivf_cycle_drift_rebuilds(spark, tmp_path):
    """IVF twin: sharded drain routes by shard_expr, whole-store cell
    staleness trips, one coarse model retrains on the union and
    re-saves sharded under the persisted metric; the sharded reader
    matches the unsharded twin of the rebuilt store's artifacts."""
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.serve.local_reader import LocalIvfReader
    from vector_search_go_spark.serve.sharded import (
        ShardedReader,
        read_shards_meta,
        union_shard_component,
    )
    from vector_search_go_spark.streaming.maintain import (
        cell_staleness,
        ingest_cycle,
    )

    rng = np.random.default_rng(47)
    A = rng.standard_normal((400, DIMS))
    B = rng.standard_normal((400, DIMS)) + 6.0
    path = str(tmp_path / "ivf_sh")
    cents = kmeans_fit(_df(spark, A), 8, iters=2, dim=DIMS)
    ivf_save(spark, _df(spark, A), cents, path, metric="l2", shards=3)

    res = ingest_cycle(
        spark,
        _stream(spark, tmp_path, B, 400, "ivf_b"),
        path,
        str(tmp_path / "ckpt_ivf_b"),
    )
    assert res["action"] == "rebuilt"
    assert read_shards_meta(path) == {
        "family": "ivf", "n_shards": 3, "metric": "l2",
    }
    st = cell_staleness(spark, path)
    assert st["n_build"] == 800 and st["tv_drift"] == pytest.approx(0.0)

    twin = str(tmp_path / "ivf_twin")
    ivf_save(
        spark,
        union_shard_component(spark, path, 3, "cells").select("id", "vec"),
        spark.read.parquet(f"{path}/shard=0/centroids"),
        twin,
        metric="l2",
    )
    single = LocalIvfReader(twin, metric="l2")
    with ShardedReader(path) as sharded:
        for q in (B[17], A[5]):
            assert _rows(sharded.search(q, k=10, nprobe=4)) == _rows(
                single.search(q, k=10, nprobe=4)
            )


def test_sharded_ivfpq_maintain_rebuilds_and_retunes(spark, tmp_path):
    """Sharded IVFADC maintenance: the drift fixture on a 3-shard store
    trips, ONE coarse model + codebook retrain on the union, the store
    re-saves sharded, and the retune probe writes the measured
    recommended_shortlist into the LAYOUT-level store_meta — which the
    ShardedReader's shortlist=None resolution then serves, row-for-row
    equal to the unsharded twin."""
    from pyspark.sql import functions as SF

    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.operators.pq import (
        ivfpq_save,
        pq_codebook,
        pq_shortlist,
    )
    from vector_search_go_spark.serve.local_reader import (
        LocalIvfPqReader,
        _read_store_meta,
    )
    from vector_search_go_spark.serve.sharded import (
        ShardedReader,
        union_shard_component,
    )
    from vector_search_go_spark.streaming.maintain import ingest_cycle

    DIMS_PQ = 64
    rng = np.random.default_rng(53)
    A = rng.standard_normal((300, DIMS_PQ))
    B = rng.standard_normal((300, DIMS_PQ)) + 6.0
    path = str(tmp_path / "ivfpq_sh")
    corpus = _df(spark, A)
    cents = kmeans_fit(corpus, 8, iters=2, dim=DIMS_PQ)
    cb = pq_codebook(
        corpus.select(SF.col("id").alias("vec_id"), SF.col("vec").alias("embedding"))
    )
    ivfpq_save(spark, corpus, cents, cb, path, metric="l2", shards=3)

    res = ingest_cycle(
        spark,
        _stream(spark, tmp_path, B, 300, "pq_b"),
        path,
        str(tmp_path / "ckpt_pq_b"),
    )
    assert res["action"] == "rebuilt"
    # the retune probe measured the union geometry and persisted its
    # budget at the LAYOUT level (low-contrast drift corpus -> above
    # the floor, the same mechanism as the unsharded fixture)
    rec = res["recommended_shortlist"]
    assert rec >= pq_shortlist(10)
    assert _read_store_meta(path)["recommended_shortlist"] == rec

    twin = str(tmp_path / "ivfpq_twin")
    ivfpq_save(
        spark,
        union_shard_component(spark, path, 3, "vectors").select("id", "vec"),
        spark.read.parquet(f"{path}/shard=0/centroids"),
        spark.read.parquet(f"{path}/shard=0/codebook"),
        twin,
        metric="l2",
    )
    # give the twin the same measured budget so shortlist=None resolves
    # identically on both sides — MERGED into the twin's own saved meta
    # (overwriting from scratch would drop the encoding tag and flip
    # the twin reader to raw-LUT scoring; the maintain-merge contract)
    import json

    twin_meta = dict(_read_store_meta(twin))
    twin_meta["recommended_shortlist"] = int(rec)
    spark.createDataFrame(
        [(json.dumps(twin_meta),)],
        "meta_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{twin}/store_meta")
    single = LocalIvfPqReader(twin)
    X = np.vstack([A, B])
    with ShardedReader(path) as sharded:
        for qi in (317, 5, 550):
            got = sharded.search(X[qi], k=10, nprobe=8)
            assert _rows(got) == _rows(single.search(X[qi], k=10, nprobe=8))
            # the rebuilt sharded store serves every streamed vector
            # exactly: self at rank 1, dist 0
            assert int(got["id"][0]) == qi and float(got["dist"][0]) == 0.0


def test_sharded_probe_is_layout_independent(spark, tmp_path):
    """adc_shortlist_probe on a sharded layout == on the unsharded store
    of the same corpus and models: deterministic id-hash sampling makes
    the probe a pure function of (ids, vectors, codes, codebook), none
    of which sharding changes (ADVICE r6)."""
    from pyspark.sql import functions as SF

    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.operators.pq import (
        adc_shortlist_probe,
        ivfpq_save,
        pq_codebook,
    )

    DIMS_PQ = 64
    rng = np.random.default_rng(59)
    X = rng.standard_normal((400, DIMS_PQ))
    corpus = _df(spark, X)
    cents = kmeans_fit(corpus, 8, iters=2, dim=DIMS_PQ)
    cb = pq_codebook(
        corpus.select(SF.col("id").alias("vec_id"), SF.col("vec").alias("embedding"))
    )
    single_p = str(tmp_path / "pq_single")
    sharded_p = str(tmp_path / "pq_sharded")
    ivfpq_save(spark, corpus, cents, cb, single_p, metric="l2")
    ivfpq_save(spark, corpus, cents, cb, sharded_p, metric="l2", shards=3)
    rep_single = adc_shortlist_probe(spark, single_p, sample_rows=200)
    rep_sharded = adc_shortlist_probe(spark, sharded_p, sample_rows=200)
    assert rep_single == rep_sharded
    # and re-probing the same layout is deterministic
    assert adc_shortlist_probe(spark, sharded_p, sample_rows=200) == rep_sharded


def test_sharded_cycle_compacts_per_shard(spark, tmp_path):
    """Quiet-path compaction on a sharded layout heals each shard's
    fragmented components; the store keeps serving the same rows."""
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.streaming.ingest import parquet_file_count
    from vector_search_go_spark.streaming.maintain import ingest_cycle

    rng = np.random.default_rng(61)
    A = rng.standard_normal((600, DIMS))
    A2 = rng.standard_normal((60, DIMS))
    path = str(tmp_path / "lsh_compact")
    LshIndex.train(spark, _df(spark, A), CFG).save(path, shards=3)
    before = parquet_file_count(f"{path}/shard=0/buckets")
    res = ingest_cycle(
        spark,
        _stream(spark, tmp_path, A2, 600, "a2"),
        path,
        str(tmp_path / "ckpt_a2"),
        compact_over=0,
        tv_threshold=10.0,
        growth_threshold=10.0,
    )
    assert res["action"] == "compacted"
    assert any("/shard=0/buckets" in k for k in res["compact"])
    assert parquet_file_count(f"{path}/shard=0/buckets") <= before
    assert (
        sum(
            spark.read.parquet(f"{path}/shard={k}/vectors").count()
            for k in range(3)
        )
        == 660
    )
    twin = str(tmp_path / "lsh_compact_twin")
    _lsh_unsharded_twin(spark, path, twin)
    single = LocalLshReader(twin, metric="l2")
    with ShardedReader(path, metric="l2") as sharded:
        q = A2[7]
        assert _rows(sharded.search(q, k=10)) == _rows(single.search(q, k=10))


def test_sharded_cycle_validates_before_consuming(spark, tmp_path):
    """Pre-drain validation on sharded layouts: a shard missing its
    build_stats fails BEFORE any row is consumed (checkpoint absent)."""
    import shutil

    from vector_search_go_spark.streaming.maintain import ingest_cycle

    rng = np.random.default_rng(67)
    A = rng.standard_normal((300, DIMS))
    path = str(tmp_path / "lsh_legacy")
    LshIndex.train(spark, _df(spark, A), CFG).save(path, shards=3)
    shutil.rmtree(f"{path}/shard=1/build_stats")
    ckpt = str(tmp_path / "ckpt_legacy")
    with pytest.raises(FileNotFoundError, match="build_stats"):
        ingest_cycle(
            spark,
            _stream(spark, tmp_path, A[:50], 300, "legacy"),
            path,
            ckpt,
        )
    assert not os.path.exists(ckpt)
    assert (
        sum(
            spark.read.parquet(f"{path}/shard={k}/vectors").count()
            for k in range(3)
        )
        == 300
    )


def test_engine_save_shards_after_auto_train(spark, tmp_path):
    """Facade threading (VERDICT r6 item 7): train(auto=True) then
    save(path, shards=N) writes the sharded layout of whatever backend
    the advisor measured, and local_reader routes it to the router with
    rows identical to the unsharded save of the same engine."""
    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.serve.sharded import (
        ShardedReader,
        read_shards_meta,
    )

    rng = np.random.default_rng(71)
    X = rng.standard_normal((400, DIMS))
    df = _df(spark, X)
    eng = VectorSearchEngine(spark, metric="l2")
    eng.train(df, auto=True, probe_rows=200, probe_queries=8)
    assert eng.advisor_decision is not None
    p_single = str(tmp_path / "auto_single")
    p_sharded = str(tmp_path / "auto_sharded")
    eng.save(p_single)
    eng.save(p_sharded, shards=2)
    meta = read_shards_meta(p_sharded)
    assert meta is not None and meta["n_shards"] == 2
    rd = eng.local_reader(p_sharded)
    assert isinstance(rd, ShardedReader)
    single = eng.local_reader(p_single)
    try:
        for q in (X[3], X[250]):
            assert _rows(rd.search(q, k=10)) == _rows(single.search(q, k=10))
    finally:
        rd.close()


def test_engine_load_sharded_lsh_matches_unsharded(spark, tmp_path):
    """engine.load on a sharded LSH layout returns a batch-search engine
    over the UNION view (shared model + union components) — identical
    search rows to loading the unsharded twin; sharded IVFADC layouts
    are refused with the same guidance as unsharded ones."""
    import pytest as _pytest

    from vector_search_go_spark.engine import VectorSearchEngine

    rng = np.random.default_rng(73)
    A = rng.standard_normal((500, DIMS))
    path = str(tmp_path / "lsh_sh")
    idx = LshIndex.train(spark, _df(spark, A), CFG)
    idx.save(path, shards=3)
    twin = str(tmp_path / "lsh_twin")
    _lsh_unsharded_twin(spark, path, twin)

    eng_sh = VectorSearchEngine.load(spark, path, metric="l2")
    eng_un = VectorSearchEngine.load(spark, twin, metric="l2")
    assert eng_sh.backend == "lsh"
    q = spark.createDataFrame(
        [(0, A[7].tolist()), (1, A[321].tolist())],
        "query_id bigint, qvec array<double>",
    )
    got = sorted(
        (r["query_id"], r["id"], r["dist"], r["rn"])
        for r in eng_sh.search(q, k=10).collect()
    )
    want = sorted(
        (r["query_id"], r["id"], r["dist"], r["rn"])
        for r in eng_un.search(q, k=10).collect()
    )
    assert got == want and len(got) == 20
    # metric-family guard still applies through the sharded route
    with _pytest.raises(ValueError, match="is_angular"):
        VectorSearchEngine.load(spark, path, metric="cosine")


def test_engine_load_sharded_ivfpq_refused(spark, tmp_path):
    from pyspark.sql import functions as SF

    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.operators.kmeans import kmeans_fit
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    rng = np.random.default_rng(79)
    X = rng.standard_normal((200, 64))
    corpus = _df(spark, X)
    cents = kmeans_fit(corpus, 4, iters=1, dim=64)
    cb = pq_codebook(
        corpus.select(SF.col("id").alias("vec_id"), SF.col("vec").alias("embedding"))
    )
    path = str(tmp_path / "pq_sh")
    ivfpq_save(spark, corpus, cents, cb, path, metric="l2", shards=2)
    with pytest.raises(ValueError, match="ShardedReader"):
        VectorSearchEngine.load(spark, path)


def test_engine_compact_sharded_lsh(spark, tmp_path):
    """engine.compact on a sharded layout compacts every shard's bucket
    store; dedup mode refreshes the global hot_buckets table."""
    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.serve.sharded import _load_hot_buckets
    from vector_search_go_spark.streaming.ingest import parquet_file_count
    from vector_search_go_spark.streaming.maintain import ingest_cycle

    rng = np.random.default_rng(83)
    A = rng.standard_normal((600, DIMS))
    B = rng.standard_normal((80, DIMS))
    B[20:] = B[20]  # replayed-looking duplicates feed the dedup branch
    path = str(tmp_path / "lsh_c")
    LshIndex.train(spark, _df(spark, A), CFG).save(path, shards=3)
    # two drains, second replays the first's rows (same landing data)
    for tag in ("c1", "c2"):
        ingest_cycle(
            spark,
            _stream(spark, tmp_path, B, 600, "c_land"),
            path,
            str(tmp_path / f"ckpt_{tag}"),
            compact_over=None,
            tv_threshold=10.0,
            growth_threshold=10.0,
        )
    hot_dup = _load_hot_buckets(path)
    before = parquet_file_count(f"{path}/shard=0/buckets")
    res = VectorSearchEngine.compact(spark, path, dedup=True, keep_backup=False)
    assert set(res["shards"]) == {0, 1, 2}
    assert parquet_file_count(f"{path}/shard=0/buckets") <= before
    hot_deduped = _load_hot_buckets(path)
    # dedup halved the duplicated block's bucket mass; the refreshed
    # global sizes must reflect it (strictly smaller than the replayed
    # sizes for the duplicated bucket)
    assert any(
        hot_deduped.get(key, 0) < sz for key, sz in hot_dup.items()
    ) or hot_dup == {}
    total = sum(
        spark.read.parquet(f"{path}/shard={k}/buckets").count()
        for k in range(3)
    )
    assert total == (600 + 80) * CFG.n_trees  # replays collapsed


def test_sharded_scan_stream_append_then_parity(spark, tmp_path):
    """Scan-family sharded drain: vectors-only appends routed by
    shard_expr; the post-drain ShardedReader matches a fresh unsharded
    scan store over the union corpus (scan stores have no model, so the
    twin is just scan_save of the union)."""
    from vector_search_go_spark.operators.exact_knn import scan_save
    from vector_search_go_spark.serve.local_reader import LocalScanReader
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.streaming.ingest import ingest_to_sharded_store

    rng = np.random.default_rng(89)
    A = rng.standard_normal((400, DIMS))
    B = rng.standard_normal((50, DIMS))
    path = str(tmp_path / "scan_sh")
    scan_save(spark, _df(spark, A), path, metric="l2", shards=3)
    ingest_to_sharded_store(
        spark,
        _stream(spark, tmp_path, B, 400, "scan_b"),
        path,
        str(tmp_path / "ckpt_scan_b"),
    )
    sizes = [
        spark.read.parquet(f"{path}/shard={k}/vectors").count()
        for k in range(3)
    ]
    assert sum(sizes) == 450
    twin = str(tmp_path / "scan_twin")
    scan_save(
        spark, _df(spark, np.vstack([A, B])), twin, metric="l2"
    )
    single = LocalScanReader(twin)
    with ShardedReader(path) as sharded:
        for q in (A[7], B[11]):
            assert _rows(sharded.search(q, k=10)) == _rows(
                single.search(q, k=10)
            )


def test_vecs_arrival_to_sharded_ivfpq_cycle(spark, tmp_path):
    """Arrival -> append -> serve -> maintain, end to end on a SHARDED
    IVFADC store (VERDICT r7 item 7): an .fvecs shard lands in a
    directory, streams through the layout's frozen models into every
    shard's coded cells + rerank vectors, the router serves the new
    rows immediately, and the maintenance retune's measured shortlist
    is honored by readers constructed after it — no parquet conversion
    hop anywhere."""
    from vector_search_go_spark.operators.pq import (
        ivfpq_save,
        pq_codebook,
        pq_shortlist,
        resolve_shortlist,
    )
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import (
        ShardedReader,
        union_shard_component,
    )
    from vector_search_go_spark.sources import register_vecs_source, write_fvecs
    from vector_search_go_spark.streaming.ingest import ingest_to_sharded_store
    from vector_search_go_spark.streaming.maintain import maintain_ivfpq

    register_vecs_source(spark)
    dims = 64  # M_SUB x D_SUB — the ivfpq width
    rng = np.random.default_rng(97)
    A = rng.standard_normal((600, dims))
    corpus = spark.createDataFrame(
        [(int(i), A[i].tolist()) for i in range(len(A))],
        "id bigint, vec array<double>",
    )
    cents = spark.createDataFrame(
        [(int(i), A[i * 40].tolist()) for i in range(12)],
        "cid int, cvec array<double>",
    )
    cb = spark.createDataFrame(
        pq_codebook(
            corpus.select(
                F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
            )
        ).collect(),
        "sub int, code int, cvec array<double>",
    )
    path = str(tmp_path / "ivfpq_sh")
    ivfpq_save(spark, corpus, cents, cb, path, metric="l2", shards=3)

    # arrival: one fvecs shard lands; ids are (base=0)<<32 + i
    land = tmp_path / "arrivals"
    land.mkdir()
    B = rng.standard_normal((90, dims)).astype("float32")
    write_fvecs(str(land / "arrival-0.fvecs"), B)
    # the vecs source numbers ids (base << 32) + i with bases from 0 —
    # offset into the store's free id range (the operator owns id
    # namespace disjointness, as with any external ingest)
    stream = (
        spark.readStream.format("vecs")
        .option("kind", "fvecs")
        .load(str(land))
        .selectExpr(
            "cast(id + 1000 as bigint) as id",
            "cast(vec as array<double>) as vec",
        )
    )
    ingest_to_sharded_store(spark, stream, path, str(tmp_path / "vs_ckpt"))

    # servable now: parity vs an unsharded twin REBUILT from the
    # layout's own artifacts (shard=0 models + union vectors) — frozen
    # models make the streamed codes identical to a batch re-save's
    twin = str(tmp_path / "ivfpq_twin")
    union_vecs = union_shard_component(spark, path, 3, "vectors")
    ivfpq_save(
        spark,
        union_vecs,
        spark.read.parquet(f"{path}/shard=0/centroids"),
        spark.read.parquet(f"{path}/shard=0/codebook"),
        twin,
        metric="l2",
    )
    single = LocalIvfPqReader(twin)
    qs = [A[7], B[11].astype(np.float64)]
    with ShardedReader(path) as sharded:
        for q in qs:
            assert _rows(sharded.search(q, k=10)) == _rows(
                single.search(q, k=10)
            )
        # the arrival's own top-1 is itself at dist 0
        top = sharded.search(qs[1], k=1)
        assert int(top["id"][0]) == 1000 + 11
        assert float(top["dist"][0]) == 0.0

    # maintain mid-stream: the rebuild retunes the measured shortlist
    # into the LAYOUT-level store_meta; readers constructed after it
    # resolve shortlist=None to the stored budget
    rep = maintain_ivfpq(spark, path, force=True)
    assert rep["action"] == "rebuilt"
    stored = rep.get("recommended_shortlist")
    assert stored is not None and stored >= pq_shortlist(10)
    with ShardedReader(path) as post:
        assert resolve_shortlist(10, None, post._root_rec) == max(
            stored, pq_shortlist(10)
        )
        top = post.search(A[7], k=1)
        assert float(top["dist"][0]) == 0.0
