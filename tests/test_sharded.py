"""Sharded serving composition (serve/sharded.py, VERDICT r5 item 3):
sharded == unsharded, bit-identical, for all three families — including
LSH hot-bucket thinning when the hot bucket SPANS shards (the global
keep_mod contract)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

DIMS = 16
N = 1500


def _frame_rows(pdf):
    return sorted(
        (int(q), int(i), float(d), int(r))
        for q, i, d, r in zip(pdf["query_id"], pdf["id"], pdf["dist"], pdf["rn"])
    )


@pytest.fixture(scope="module")
def sharded_stores(spark, tmp_path_factory):
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.exact_knn import scan_save

    base = tmp_path_factory.mktemp("sharded_stores")
    rng = np.random.default_rng(53)
    X = rng.standard_normal((N, DIMS))
    # a duplicate block k_min_vecs cannot split -> a hot bucket in every
    # tree, and id-hash sharding scatters its members across shards
    X[1200:] = X[1200]
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)], "id bigint, vec array<double>"
    )
    cents = corpus.filter(F.col("id") % 100 == 0).select(
        (F.col("id") / 100).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    idx = LshIndex.train(
        spark,
        corpus,
        LshConfig(dims=DIMS, n_trees=8, k_min_vecs=20, seed=13, max_bucket_size=40),
    )
    idx.save(str(base / "lsh"))
    idx.save(str(base / "lsh_sharded"), shards=3)
    ivf_save(spark, corpus, cents, str(base / "ivf"), metric="cosine")
    ivf_save(spark, corpus, cents, str(base / "ivf_sharded"), metric="cosine", shards=3)
    scan_save(spark, corpus, str(base / "scan"), metric="l2")
    scan_save(spark, corpus, str(base / "scan_sharded"), metric="l2", shards=3)
    queries = [
        X[42],
        X[999],
        X[1200],  # the duplicated point — probes the spanning hot bucket
        X[5] + 0.05 * rng.standard_normal(DIMS),
    ]
    return base, queries


def test_shard_layout_and_hot_bucket_spans_shards(spark, sharded_stores):
    """Layout sanity + non-vacuity: the shards partition the corpus, the
    hot_buckets table is non-empty (the dup block IS over the cap), and
    the dup block's members land in more than one shard — so the LSH
    parity test below genuinely exercises cross-shard thinning."""
    from vector_search_go_spark.serve.sharded import (
        _load_hot_buckets,
        read_shards_meta,
    )

    base, _ = sharded_stores
    meta = read_shards_meta(str(base / "lsh_sharded"))
    assert meta == {"family": "lsh", "n_shards": 3}
    sizes = [
        spark.read.parquet(f"{base}/lsh_sharded/shard={k}/vectors").count()
        for k in range(3)
    ]
    assert sum(sizes) == N and all(s > 0 for s in sizes)
    hot = _load_hot_buckets(str(base / "lsh_sharded"))
    assert hot and all(sz > 40 for sz in hot.values())
    dup_shards = (
        spark.read.parquet(f"{base}/lsh_sharded/shard=*/vectors")
        .filter(F.col("id") >= 1200)
        .select(F.pmod(F.xxhash64("id"), F.lit(3)).alias("s"))
        .distinct()
        .count()
    )
    assert dup_shards >= 2


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_sharded_lsh_reader_matches_unsharded(sharded_stores, metric):
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    single = LocalLshReader(str(base / "lsh"), metric=metric)
    sharded = ShardedReader(str(base / "lsh_sharded"), metric=metric)
    for q in queries:
        assert _frame_rows(sharded.search(q, k=10)) == _frame_rows(
            single.search(q, k=10)
        )
    got = sharded.search_many(queries, k=10, query_ids=[3, 5, 7, 9])
    want = single.search_many(queries, k=10, query_ids=[3, 5, 7, 9])
    assert _frame_rows(got) == _frame_rows(want)


def test_sharded_ivf_reader_matches_unsharded(sharded_stores):
    from vector_search_go_spark.serve.local_reader import LocalIvfReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    single = LocalIvfReader(str(base / "ivf"), metric="cosine")
    sharded = ShardedReader(str(base / "ivf_sharded"))  # metric from meta
    assert sharded.family == "ivf" and sharded.n_shards == 3
    for q in queries:
        assert _frame_rows(sharded.search(q, k=10, nprobe=3)) == _frame_rows(
            single.search(q, k=10, nprobe=3)
        )
    got = sharded.search_many(queries, k=10, nprobe=3, query_ids=[1, 2, 3, 4])
    want = single.search_many(queries, k=10, nprobe=3, query_ids=[1, 2, 3, 4])
    assert _frame_rows(got) == _frame_rows(want)


def test_sharded_scan_reader_matches_unsharded(sharded_stores):
    from vector_search_go_spark.serve.local_reader import LocalScanReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    single = LocalScanReader(str(base / "scan"))
    sharded = ShardedReader(str(base / "scan_sharded"))
    for q in queries:
        assert _frame_rows(sharded.search(q, k=10)) == _frame_rows(
            single.search(q, k=10)
        )
        # thresholds commute with the shard partition
        assert _frame_rows(sharded.search(q, k=10, threshold=3.0)) == _frame_rows(
            single.search(q, k=10, threshold=3.0)
        )


def test_sharded_reader_refusals(sharded_stores, tmp_path):
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, _ = sharded_stores
    with pytest.raises(FileNotFoundError, match="no shards_meta"):
        ShardedReader(str(base / "lsh"))  # single store, wrong entry point
    with pytest.raises(FileNotFoundError):
        ShardedReader(str(tmp_path / "nowhere"))


def test_engine_local_reader_routes_sharded(spark, sharded_stores):
    """engine.local_reader on a shards_meta path returns the router,
    same rows as the single-store reader."""
    from vector_search_go_spark.engine import VectorSearchEngine
    from vector_search_go_spark.serve.local_reader import LocalScanReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    eng = VectorSearchEngine(spark, metric="l2", backend="exact")
    rd = eng.local_reader(str(base / "scan_sharded"))
    assert isinstance(rd, ShardedReader)
    single = LocalScanReader(str(base / "scan"))
    q = queries[0]
    assert _frame_rows(rd.search(q, k=10)) == _frame_rows(single.search(q, k=10))


def test_sharded_search_many_positional_order(sharded_stores, big_id_scan_stores):
    """Row ORDER (not just row set) must match the unsharded reader:
    queries emit in the caller's query_ids order even when a query has
    zero rows in shard 0 (first-appearance order would reorder it)."""
    from vector_search_go_spark.serve.local_reader import LocalScanReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    single = LocalScanReader(str(base / "scan"))
    sharded = ShardedReader(str(base / "scan_sharded"))
    got = sharded.search_many(queries, k=5, query_ids=[9, 3, 7, 5])
    want = single.search_many(queries, k=5, query_ids=[9, 3, 7, 5])
    assert [tuple(r) for r in got.itertuples(index=False)] == [
        tuple(r) for r in want.itertuples(index=False)
    ]
    # and with a threshold that empties SOME queries' results entirely
    got_t = sharded.search_many(queries, k=5, query_ids=[9, 3, 7, 5], threshold=0.1)
    want_t = single.search_many(queries, k=5, query_ids=[9, 3, 7, 5], threshold=0.1)
    assert [tuple(r) for r in got_t.itertuples(index=False)] == [
        tuple(r) for r in want_t.itertuples(index=False)
    ]
    # ...and whose empty shard frames keep the store's int64 ids past
    # 2**53 (a float64 empty frame would promote the merged column)
    base, ids, X = big_id_scan_stores
    with ShardedReader(f"{base}/sharded") as big:
        for got in (
            big.search_many([X[2], X[2] + 100], k=3, threshold=1e-9),
            big.search(X[2], k=3, threshold=1e-9),
        ):
            assert got["id"].dtype == np.int64
            assert got["id"].tolist() == [int(ids[2])]


def test_sharded_save_refuses_empty_shard(spark, tmp_path):
    """A shard count that would strand an empty shard directory must
    fail BEFORE any write (an empty single-store layout is unopenable)."""
    from vector_search_go_spark.operators.exact_knn import scan_save

    tiny = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id bigint, vec array<double>"
    )
    path = str(tmp_path / "tiny_sharded")
    with pytest.raises(ValueError, match="empty"):
        scan_save(spark, tiny, path, metric="l2", shards=16)
    import os

    assert not os.path.exists(path)  # nothing was written


def test_sharded_reader_process_mode_parity(sharded_stores):
    """processes=True (one spawn process per shard — the fleet shape in
    miniature, and the configuration the flat-latency SCALE.md row
    measures) must return row-identical frames to thread mode and to
    the unsharded reader."""
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    single = LocalLshReader(str(base / "lsh"), metric="l2")
    proc = ShardedReader(str(base / "lsh_sharded"), metric="l2", processes=True)
    try:
        for q in queries[:2] + [queries[2]]:  # incl. the hot-bucket dup
            got = proc.search(q, k=10)
            want = single.search(q, k=10)
            assert [tuple(r) for r in got.itertuples(index=False)] == [
                tuple(r) for r in want.itertuples(index=False)
            ]
        got = proc.search_many(queries, k=10, query_ids=[4, 3, 2, 1])
        want = single.search_many(queries, k=10, query_ids=[4, 3, 2, 1])
        assert [tuple(r) for r in got.itertuples(index=False)] == [
            tuple(r) for r in want.itertuples(index=False)
        ]
    finally:
        proc.close()


PQ_DIMS = 64  # M_SUB x D_SUB — the IVFADC code layout


@pytest.fixture(scope="module")
def ivfpq_sharded_stores(spark, tmp_path_factory):
    """Unsharded + 3-shard IVFADC stores over the SAME corpus (64-d, the
    PQ code layout), with a duplicate block whose members span shards so
    the global-shortlist merge is exercised across shard boundaries."""
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    base = tmp_path_factory.mktemp("ivfpq_sharded")
    rng = np.random.default_rng(97)
    X = rng.standard_normal((N, PQ_DIMS))
    X[1200:] = X[1200]  # duplicate block -> near-tied ADC scores
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)], "id bigint, vec array<double>"
    )
    cents = corpus.filter(F.col("id") % 150 == 0).select(
        (F.col("id") / 150).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    cb = pq_codebook(
        corpus.select(F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    )
    ivfpq_save(spark, corpus, cents, cb, str(base / "single"), metric="l2")
    ivfpq_save(spark, corpus, cents, cb, str(base / "sharded"), metric="l2", shards=3)
    queries = [
        X[42],
        X[999],
        X[1200],  # the duplicated point — its block spans shards
        X[5] + 0.05 * rng.standard_normal(PQ_DIMS),
    ]
    return base, queries


def test_sharded_ivfpq_reader_matches_unsharded(ivfpq_sharded_stores):
    """The r6 VERDICT item-1 contract: the per-shard ADC top-L /
    global-shortlist merge / exact rerank is BIT-identical to the
    unsharded LocalIvfPqReader — stored and explicit shortlists, single
    and batch, incl. the duplicate block spanning shards."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = ivfpq_sharded_stores
    single = LocalIvfPqReader(str(base / "single"))
    sharded = ShardedReader(str(base / "sharded"))
    assert sharded.family == "ivfpq" and sharded.n_shards == 3
    try:
        for q in queries:
            for kw in ({}, {"shortlist": 40}, {"nprobe": 2, "shortlist": 25}):
                got = sharded.search(q, k=10, **kw)
                want = single.search(q, k=10, **kw)
                assert [tuple(r) for r in got.itertuples(index=False)] == [
                    tuple(r) for r in want.itertuples(index=False)
                ], kw
        got = sharded.search_many(queries, k=10, query_ids=[9, 3, 7, 5])
        want = single.search_many(queries, k=10, query_ids=[9, 3, 7, 5])
        assert [tuple(r) for r in got.itertuples(index=False)] == [
            tuple(r) for r in want.itertuples(index=False)
        ]
    finally:
        sharded.close()


def test_sharded_ivfpq_process_mode_parity(ivfpq_sharded_stores):
    """processes=True (one spawn worker per shard — the fleet shape the
    SCALE.md flat-latency rows measure) returns row-identical frames."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = ivfpq_sharded_stores
    single = LocalIvfPqReader(str(base / "single"))
    with ShardedReader(str(base / "sharded"), processes=True) as proc:
        got = proc.search(queries[2], k=10)
        want = single.search(queries[2], k=10)
        assert [tuple(r) for r in got.itertuples(index=False)] == [
            tuple(r) for r in want.itertuples(index=False)
        ]
        got = proc.search_many(queries, k=10, query_ids=[4, 3, 2, 1])
        want = single.search_many(queries, k=10, query_ids=[4, 3, 2, 1])
        assert [tuple(r) for r in got.itertuples(index=False)] == [
            tuple(r) for r in want.itertuples(index=False)
        ]


def test_sharded_ivfpq_stored_shortlist_resolution(spark, ivfpq_sharded_stores, tmp_path):
    """shortlist=None resolves from the LAYOUT-level store_meta on the
    router exactly as the unsharded reader resolves from its own — a
    recommended_shortlist written at both roots yields identical rows."""
    import json
    import shutil

    from vector_search_go_spark.serve.local_reader import (
        LocalIvfPqReader,
        _read_store_meta,
    )
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = ivfpq_sharded_stores
    single_p = str(tmp_path / "single")
    sharded_p = str(tmp_path / "sharded")
    shutil.copytree(str(base / "single"), single_p)
    shutil.copytree(str(base / "sharded"), sharded_p)
    rec = 220  # above the pq_shortlist(10)=100 floor, so it is the value used
    # the single store's meta rewrite must carry the encoding tag a real
    # retune merge preserves (maintain_ivfpq merges into existing meta);
    # dropping it would silently flip the reader to raw-LUT scoring
    for p, meta in (
        (single_p, {"family": "ivfpq", "metric": "l2",
                    "encoding": "residual", "recommended_shortlist": rec}),
        (sharded_p, {"recommended_shortlist": rec}),
    ):
        spark.createDataFrame(
            [(json.dumps(meta),)], "meta_json string"
        ).coalesce(1).write.mode("overwrite").json(f"{p}/store_meta")
    assert _read_store_meta(sharded_p)["recommended_shortlist"] == rec
    single = LocalIvfPqReader(single_p)
    assert single._rec_shortlist == rec
    with ShardedReader(sharded_p) as sharded:
        assert sharded._root_rec == rec
        for q in queries[:2]:
            got = sharded.search(q, k=10)  # shortlist=None -> 220 both sides
            want = single.search(q, k=10)
            assert [tuple(r) for r in got.itertuples(index=False)] == [
                tuple(r) for r in want.itertuples(index=False)
            ]


def test_sharded_ivfpq_missing_vector_rows_match_unsharded(spark, ivfpq_sharded_stores, tmp_path):
    """Out-of-sync store (codes without a vectors row): the router drops
    NaN-dist rows AFTER the global shortlist selection — the same place
    the unsharded isin mask drops them — so both readers still agree."""
    import shutil

    from pyspark.sql import functions as SF

    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = ivfpq_sharded_stores
    single_p = str(tmp_path / "single")
    sharded_p = str(tmp_path / "sharded")
    shutil.copytree(str(base / "single"), single_p)
    shutil.copytree(str(base / "sharded"), sharded_p)
    drop = [42, 1203]  # the query point itself + a duplicate-block member

    def _strip(vec_dir: str) -> None:
        kept = spark.read.parquet(vec_dir).filter(~SF.col("id").isin(drop))
        kept = spark.createDataFrame(kept.collect(), kept.schema)
        (
            kept.repartitionByRange(4, "id").sortWithinPartitions("id")
            .write.mode("overwrite").parquet(vec_dir)
        )

    _strip(f"{single_p}/vectors")
    for k in range(3):
        _strip(f"{sharded_p}/shard={k}/vectors")
    single = LocalIvfPqReader(single_p)
    with ShardedReader(sharded_p) as sharded:
        for q in [queries[0], queries[2]]:
            got = sharded.search(q, k=10)
            want = single.search(q, k=10)
            assert [tuple(r) for r in got.itertuples(index=False)] == [
                tuple(r) for r in want.itertuples(index=False)
            ]
            assert 42 not in set(want["id"])  # the drop is on the tested path


def test_sharded_ivfpq_duplicate_rows_match_unsharded(spark, ivfpq_sharded_stores, tmp_path):
    """At-least-once replays (and one-component dedup compactions) make
    CODES-row and VECTORS-row multiplicities diverge; the unsharded
    reader's output multiplicity is the vectors one (its isin mask
    selects vectors rows). The router must reproduce that exactly via
    the slot/vmult split — under coherent replays (both components
    duplicated), codes-only dups, and vectors-only dups."""
    import shutil

    from pyspark.sql import functions as SF

    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = ivfpq_sharded_stores
    dup_ids = [42, 1203]  # a query's top-1 + a duplicate-block member

    shard_of = {
        r["id"]: r["s"]
        for r in spark.createDataFrame([(i,) for i in dup_ids], "id bigint")
        .select("id", SF.pmod(SF.xxhash64("id"), SF.lit(3)).alias("s"))
        .collect()
    }
    cell_pinned = spark.createDataFrame(
        spark.read.parquet(f"{base}/single/cells")
        .filter(SF.col("id").isin(dup_ids))
        .select("cell", "id", "codes")
        .collect(),
        "cell int, id bigint, codes array<int>",
    )
    vec_pinned = spark.createDataFrame(
        spark.read.parquet(f"{base}/single/vectors")
        .filter(SF.col("id").isin(dup_ids))
        .select("id", "vec")
        .collect(),
        "id bigint, vec array<double>",
    )

    def _dup(single_p, sharded_p, dup_cells, dup_vectors):
        if dup_cells:
            cell_pinned.write.mode("append").partitionBy("cell").parquet(
                f"{single_p}/cells"
            )
            for i in dup_ids:
                cell_pinned.filter(SF.col("id") == i).write.mode(
                    "append"
                ).partitionBy("cell").parquet(
                    f"{sharded_p}/shard={shard_of[i]}/cells"
                )
        if dup_vectors:
            vec_pinned.write.mode("append").parquet(f"{single_p}/vectors")
            for i in dup_ids:
                vec_pinned.filter(SF.col("id") == i).write.mode(
                    "append"
                ).parquet(f"{sharded_p}/shard={shard_of[i]}/vectors")

    for tag, dup_cells, dup_vectors in (
        ("replay", True, True),
        ("codes_only", True, False),
        ("vectors_only", False, True),
    ):
        single_p = str(tmp_path / f"single_{tag}")
        sharded_p = str(tmp_path / f"sharded_{tag}")
        shutil.copytree(str(base / "single"), single_p)
        shutil.copytree(str(base / "sharded"), sharded_p)
        _dup(single_p, sharded_p, dup_cells, dup_vectors)
        single = LocalIvfPqReader(single_p)
        # r8: the pinned-vectors rerank must reproduce the SAME
        # multiplicity semantics as the disk rerank under every
        # duplicate configuration (its searchsorted slices keep
        # adjacent duplicate rows)
        single_mem = LocalIvfPqReader(single_p, preload_vectors=True)
        with ShardedReader(sharded_p) as sharded:
            for q in (queries[0], queries[2]):
                got = sharded.search(q, k=10)
                want = single.search(q, k=10)
                assert [tuple(r) for r in got.itertuples(index=False)] == [
                    tuple(r) for r in want.itertuples(index=False)
                ], tag
                got_mem = single_mem.search(q, k=10)
                assert [tuple(r) for r in got_mem.itertuples(index=False)] == [
                    tuple(r) for r in want.itertuples(index=False)
                ], (tag, "preload_vectors")
        if dup_vectors:
            # non-vacuity: the dup actually produced a repeated row
            want42 = single.search(queries[0], k=10)
            assert list(want42["id"]).count(42) == 2, tag


def test_sharded_reader_closed_raises(sharded_stores):
    """ADVICE r6: search after close() fails with a clear RuntimeError,
    not an opaque AttributeError; close is idempotent; the context
    manager closes."""
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    rd = ShardedReader(str(base / "scan_sharded"))
    rd.close()
    rd.close()  # idempotent
    with pytest.raises(RuntimeError, match="closed"):
        rd.search(queries[0], k=5)
    with pytest.raises(RuntimeError, match="closed"):
        rd.search_many(queries[:2], k=5, query_ids=[1, 2])
    with ShardedReader(str(base / "scan_sharded")) as rd2:
        assert len(rd2.search(queries[0], k=3)) == 3
    with pytest.raises(RuntimeError, match="closed"):
        rd2.search(queries[0], k=3)


def test_sharded_search_many_rejects_duplicate_ids(sharded_stores):
    """The merge pools shard rows BY LABEL, so two different queries
    under one query_id would collapse into one wrong top-k — refused up
    front (the ivfpq_point_search_batch contract)."""
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries = sharded_stores
    sharded = ShardedReader(str(base / "scan_sharded"))
    with pytest.raises(ValueError, match="duplicate query_id"):
        sharded.search_many(queries[:2], k=5, query_ids=[7, 7])


def test_sharded_ivfpq_survives_shard_compaction_swap(spark, ivfpq_sharded_stores, tmp_path):
    """A live ShardedReader whose shard workers hold pre-compaction file
    indexes must keep answering after a shard's cells AND vectors
    directories are swapped (compact_codes_store/compact_vectors_store):
    the per-shard _swap_retry on shard_candidates_many reloads against the
    post-swap store. Deterministic version of the compact-under-serve
    probe, through the IVFADC router."""
    import shutil

    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader
    from vector_search_go_spark.streaming.ingest import (
        compact_codes_store,
        compact_vectors_store,
    )

    base, queries = ivfpq_sharded_stores
    sharded_p = str(tmp_path / "sharded")
    shutil.copytree(str(base / "sharded"), sharded_p)
    single = LocalIvfPqReader(str(base / "single"))
    with ShardedReader(sharded_p) as reader:
        before = reader.search(queries[0], k=10)
        for k in range(3):
            compact_codes_store(
                spark, f"{sharded_p}/shard={k}/cells", keep_backup=False
            )
            compact_vectors_store(
                spark, f"{sharded_p}/shard={k}/vectors", keep_backup=False,
                block_size=64 << 10,
            )
        for q in (queries[0], queries[2]):
            got = reader.search(q, k=10)  # stale indexes -> retry path
            want = single.search(q, k=10)
            assert [tuple(r) for r in got.itertuples(index=False)] == [
                tuple(r) for r in want.itertuples(index=False)
            ]
        assert [tuple(r) for r in reader.search(queries[0], k=10).itertuples(index=False)] == [
            tuple(r) for r in before.itertuples(index=False)
        ]


# ---- SQ8 rerank tier (VERDICT r10 item 4) ---------------------------


@pytest.fixture(scope="module")
def ivfpq_sq8_stores(spark, tmp_path_factory):
    """Unsharded + 3-shard IVFADC stores WITH the SQ8 tier
    (ivfpq_save(sq8=True)) over one corpus, plus a tier-less single
    store for the augment/raise paths."""
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    base = tmp_path_factory.mktemp("ivfpq_sq8")
    rng = np.random.default_rng(131)
    X = rng.standard_normal((N, PQ_DIMS))
    X[1200:] = X[1200]  # duplicate block -> exact ties through both tiers
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)], "id bigint, vec array<double>"
    )
    cents = corpus.filter(F.col("id") % 150 == 0).select(
        (F.col("id") / 150).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    cb = pq_codebook(
        corpus.select(F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    )
    ivfpq_save(spark, corpus, cents, cb, str(base / "single"), metric="l2", sq8=True)
    ivfpq_save(
        spark, corpus, cents, cb, str(base / "sharded"), metric="l2",
        shards=3, sq8=True,
    )
    ivfpq_save(spark, corpus, cents, cb, str(base / "bare"), metric="l2")
    queries = [X[42], X[999], X[1200], X[5] + 0.05 * rng.standard_normal(PQ_DIMS)]
    return base, queries, corpus


def test_sq8_rerank_parity_at_full_keep(ivfpq_sq8_stores):
    """With sq8_keep >= shortlist the sq8 stage keeps every shortlist
    id, so rerank='sq8' is bit-identical to rerank='exact' — the
    correctness pin of the two-stage refinement, single and batch."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries, _ = ivfpq_sq8_stores
    rd = LocalIvfPqReader(str(base / "single"))
    for q in queries:
        exact = rd.search(q, k=10, nprobe=3, shortlist=40)
        sq8 = rd.search(q, k=10, nprobe=3, shortlist=40, rerank="sq8", sq8_keep=40)
        assert _frame_rows(exact) == _frame_rows(sq8)
    be = rd.search_many(queries, k=10, nprobe=3, shortlist=40)
    b8 = rd.search_many(
        queries, k=10, nprobe=3, shortlist=40, rerank="sq8", sq8_keep=40
    )
    assert _frame_rows(be) == _frame_rows(b8)


def test_sq8_rerank_small_keep_recall(ivfpq_sq8_stores):
    """keep << shortlist: the refinement still recovers (nearly) the
    exact-rerank top-k — SQ8 midpoint error is tiny at 8 bits — while
    fetching 8x-cheaper rows for the bulk of the shortlist."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries, _ = ivfpq_sq8_stores
    rd = LocalIvfPqReader(str(base / "single"))
    for q in queries:
        exact = rd.search(q, k=10, nprobe=3, shortlist=200)
        sq8 = rd.search(
            q, k=10, nprobe=3, shortlist=200, rerank="sq8", sq8_keep=30
        )
        inter = set(map(int, exact["id"])) & set(map(int, sq8["id"]))
        assert len(inter) >= 9, (len(inter), sorted(map(int, exact["id"])))


def test_sharded_sq8_matches_unsharded(ivfpq_sq8_stores):
    """The two-phase router (phase-1 ADC+SQ8 slots, global keep, phase-2
    exact fetch) is bit-identical to the unsharded rerank='sq8' path —
    incl. the duplicate block spanning shards, preloaded sq8, single
    and batch."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries, _ = ivfpq_sq8_stores
    single = LocalIvfPqReader(str(base / "single"), preload_sq8=True)
    sharded = ShardedReader(str(base / "sharded"), preload_sq8=True)
    try:
        for q in queries:
            for kw in (
                {"shortlist": 40, "sq8_keep": 40},
                {"shortlist": 200, "sq8_keep": 25},
                {"nprobe": 2, "shortlist": 60, "sq8_keep": 15},
            ):
                got = sharded.search(q, k=10, rerank="sq8", **kw)
                want = single.search(q, k=10, rerank="sq8", **kw)
                assert _frame_rows(got) == _frame_rows(want), kw
        got = sharded.search_many(
            queries, k=10, shortlist=200, rerank="sq8", sq8_keep=25
        )
        want = single.search_many(
            queries, k=10, shortlist=200, rerank="sq8", sq8_keep=25
        )
        assert _frame_rows(got) == _frame_rows(want)
    finally:
        sharded.close()


def _assert_owner_routed(phase1: dict, fetches: list) -> None:
    """Every phase-2 fetch sends a shard only ids that shard listed for
    that query in phase 1, each kept id reaches exactly one shard, and
    no shard is called without ids."""
    seen: dict = {}
    for s, ids_per_query, qids in fetches:
        assert any(len(ids) for ids in ids_per_query)
        f = phase1[s]
        for qid, ids in zip(qids, ids_per_query):
            listed = set(f.loc[f["query_id"] == qid, "id"].tolist())
            assert ids and set(ids) <= listed, (s, qid)
            for i in ids:
                assert (qid, i) not in seen, (qid, i)
                seen[(qid, i)] = s
    assert seen


def test_sharded_sq8_owner_routed_rerank(ivfpq_sq8_stores):
    """Phase 2 of the sharded SQ8 protocol fetches each kept id only
    from the shard whose phase-1 frame listed it (spied on the router's
    one fan-out, in thread mode and in process mode), and results stay
    bit-identical to the unsharded reader."""
    from vector_search_go_spark.serve import sharded as sh
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries, _ = ivfpq_sq8_stores
    single = LocalIvfPqReader(str(base / "single"), preload_sq8=True)
    kw = {"shortlist": 200, "sq8_keep": 25}
    want1 = single.search(queries[2], k=10, rerank="sq8", **kw)
    want_b = single.search_many(
        queries, k=10, query_ids=[4, 3, 2, 1], rerank="sq8", **kw
    )

    for processes in (False, True):
        with sh.ShardedReader(
            str(base / "sharded"), processes=processes, preload_sq8=True
        ) as rd:
            phase1: dict = {}
            fetches: list = []

            def fan_out(name, calls, _f=rd._fan_out):
                frames = _f(name, calls)
                for (s, args, kwargs), f in zip(calls, frames):
                    if name == "shard_candidates_sq8_many":
                        phase1[s] = f
                    elif name == "fetch_dists_many":
                        fetches.append((s, args[1], list(kwargs["query_ids"])))
                return frames

            rd._fan_out = fan_out
            got = rd.search(queries[2], k=10, query_id=0, rerank="sq8", **kw)
            assert _frame_rows(got) == _frame_rows(want1)
            assert sorted(phase1) == [0, 1, 2]
            _assert_owner_routed(phase1, fetches)
            phase1.clear()
            fetches.clear()
            got = rd.search_many(
                queries, k=10, query_ids=[4, 3, 2, 1], rerank="sq8", **kw
            )
            assert _frame_rows(got) == _frame_rows(want_b)
            _assert_owner_routed(phase1, fetches)


def test_sharded_sq8_frames_equal_unsharded_thread_and_process(ivfpq_sq8_stores):
    """Sharded rerank='sq8' lookups return frames EQUAL to the
    unsharded reader's (values, dtypes, row order) in thread mode and
    in process mode — single lookups and a batch whose query_ids are
    not sorted, so the router's query segments must come back in the
    caller's order."""
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader
    from vector_search_go_spark.serve.sharded import ShardedReader

    base, queries, _ = ivfpq_sq8_stores
    single = LocalIvfPqReader(str(base / "single"), preload_sq8=True)
    qids = [11, 3, 7, 5]
    kws = (
        {"nprobe": 3, "shortlist": 200, "sq8_keep": 25},
        {"nprobe": 2, "shortlist": 60, "sq8_keep": 15},
    )
    for processes in (False, True):
        with ShardedReader(
            str(base / "sharded"), processes=processes, preload_sq8=True
        ) as rd:
            for kw in kws:
                want = single.search_many(
                    queries, k=10, query_ids=qids, rerank="sq8", **kw
                )
                got = rd.search_many(
                    queries, k=10, query_ids=qids, rerank="sq8", **kw
                )
                pd.testing.assert_frame_equal(got, want)
                assert got["query_id"].drop_duplicates().tolist() == qids
                for q, qid in zip(queries, qids):
                    pd.testing.assert_frame_equal(
                        rd.search(q, k=10, query_id=qid, rerank="sq8", **kw),
                        single.search(q, k=10, query_id=qid, rerank="sq8", **kw),
                    )


def test_sq8_augment_existing_store(spark, ivfpq_sq8_stores):
    """A tier-less store raises a clear error on rerank='sq8';
    sq8_augment_store adds the tier in place, after which results are
    bit-identical to a store built with sq8=True (same exact global
    stats, same encode kernel)."""
    from vector_search_go_spark.operators.pq import sq8_augment_store
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries, _ = ivfpq_sq8_stores
    bare = LocalIvfPqReader(str(base / "bare"))
    with pytest.raises(ValueError, match="no SQ8 rerank tier"):
        bare.search(queries[0], k=10, rerank="sq8")
    sq8_augment_store(spark, str(base / "bare"))
    aug = LocalIvfPqReader(str(base / "bare"))
    built = LocalIvfPqReader(str(base / "single"))
    for q in queries:
        got = aug.search(q, k=10, nprobe=3, shortlist=200, rerank="sq8", sq8_keep=25)
        want = built.search(
            q, k=10, nprobe=3, shortlist=200, rerank="sq8", sq8_keep=25
        )
        assert _frame_rows(got) == _frame_rows(want)
