"""Local (no-Spark-job) serving reader parity: serve/local_reader must
return BIT-IDENTICAL rows to the engine's own Spark point paths on the
same saved stores — same candidates (incl. the xxhash64 hot-bucket
survivor rule), same sequential-IEEE kernels, same (dist, id)
tie-breaks (VERDICT r4 next-round item 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

N, DIMS = 1500, 64


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook

    base = tmp_path_factory.mktemp("local_serve_stores")
    rng = np.random.default_rng(71)
    X = rng.standard_normal((N, DIMS))
    # a duplicate-heavy block that k_min_vecs cannot split: 300 copies
    # of one point forces a hot bucket in every tree, so the survivor
    # rule is ON the tested path (not vacuously green)
    X[1200:] = X[1200]
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
        spark,
        corpus,
        LshConfig(dims=DIMS, n_trees=8, k_min_vecs=20, seed=13, max_bucket_size=40),
    )
    idx.save(str(base / "lsh"))
    ivf_save(spark, corpus, cents, str(base / "ivf"), metric="cosine")
    ivfpq_save(
        spark, corpus, cents, pq_codebook(emb_like), str(base / "ivfpq"), metric="l2"
    )
    queries = [
        X[42],
        X[999],
        X[1200],  # the duplicated point — lands in the thinned bucket
        X[5] + 0.05 * rng.standard_normal(DIMS),
    ]
    return base, queries


def _rows(df):
    return [
        (r["query_id"], r["id"], r["dist"], r["rn"])
        for r in df.orderBy("rn").collect()
    ]


def _frame_rows(pdf):
    return [
        (int(r.query_id), int(r.id), float(r.dist), int(r.rn))
        for r in pdf.itertuples()
    ]


def test_xxhash64_parity_with_spark(spark):
    from vector_search_go_spark.serve.xxh64 import xxhash64

    rows = [
        (i, (i * 2654435761) % (1 << 44) - (1 << 43), "x" * (i % 41) + str(i))
        for i in range(120)
    ]
    got = (
        spark.createDataFrame(rows, "a int, b bigint, c string")
        .select(
            F.xxhash64("a").alias("ha"),
            F.xxhash64("b").alias("hb"),
            F.xxhash64("c").alias("hc"),
            F.xxhash64("a", "b", "c").alias("habc"),
            F.pmod(F.xxhash64("a", "b"), F.lit(7)).alias("pm"),
        )
        .collect()
    )
    for (a, b, c), r in zip(rows, got):
        assert xxhash64(("i", a)) == r["ha"]
        assert xxhash64(b) == r["hb"]
        assert xxhash64(c) == r["hc"]
        assert xxhash64(("i", a), b, c) == r["habc"]
        assert xxhash64(("i", a), b) % 7 == r["pm"]


def test_xxhash64_bytes_all_tail_paths(spark):
    # lengths crossing every branch: empty, <4, 4..7, 8..31, >=32, and
    # >=32 with every tail combination
    from vector_search_go_spark.serve.xxh64 import xxhash64

    vals = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31, "x" * 32,
            "x" * 33, "y" * 36, "z" * 39, "w" * 40, "v" * 63, "u" * 64, "t" * 100]
    got = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select(F.xxhash64("s").alias("h"))
        .collect()
    )
    for v, r in zip(vals, got):
        assert xxhash64(v) == r["h"], f"len={len(v)}"


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_local_lsh_reader_matches_spark_point_path(spark, stores, metric):
    from vector_search_go_spark.lsh.search import lsh_point_search
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    path = str(base / "lsh")
    reader = LocalLshReader(path, metric=metric)
    assert reader.config.max_bucket_size == 40
    for qi, q in enumerate(queries):
        want = _rows(
            lsh_point_search(
                spark, path, q.tolist(), metric, k=10, forest=reader.forest,
                query_id=qi,
            )
        )
        got = _frame_rows(reader.search(q, k=10, query_id=qi))
        assert got == want, f"metric={metric} query={qi}"


def test_local_lsh_reader_thinning_active(stores):
    # the duplicated block must actually exceed the cap: the reader's
    # candidate set for the duplicate query is < the raw bucket mass
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    reader = LocalLshReader(str(base / "lsh"), metric="l2")
    q = np.asarray(queries[2], dtype=np.float64)
    hashes = reader.forest.hash_batch(q[None, :])
    probes = reader.forest.probe_batch(hashes)
    cand = reader._candidates(hashes, probes)
    assert 0 < len(cand) < 300  # 300 duplicates, cap 40


def test_local_lsh_reader_lazy_vectors(spark, stores):
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    path = str(base / "lsh")
    pre = LocalLshReader(path, metric="l2")
    lazy = LocalLshReader(path, metric="l2", preload_vectors=False)
    for q in queries[:2]:
        assert _frame_rows(pre.search(q, k=10)) == _frame_rows(lazy.search(q, k=10))


def test_local_lsh_reader_threshold(spark, stores):
    from vector_search_go_spark.lsh.search import lsh_point_search
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    path = str(base / "lsh")
    reader = LocalLshReader(path, metric="l2")
    q = queries[0]
    want = _rows(
        lsh_point_search(
            spark, path, q.tolist(), "l2", k=10, threshold=8.0,
            forest=reader.forest,
        )
    )
    got = _frame_rows(reader.search(q, k=10, threshold=8.0))
    assert got == want


def test_local_ivf_reader_matches_spark_point_path(spark, stores):
    from vector_search_go_spark.operators.ann_ivf import ivf_point_search
    from vector_search_go_spark.serve.local_reader import LocalIvfReader

    base, queries = stores
    path = str(base / "ivf")
    reader = LocalIvfReader(path, metric="cosine")
    for q in queries:
        want = _rows(
            ivf_point_search(spark, path, q.tolist(), metric="cosine", k=10, nprobe=3)
        )
        got = _frame_rows(reader.search(q, k=10, nprobe=3))
        assert got == want


def test_local_ivfpq_reader_matches_spark_point_path(spark, stores):
    from vector_search_go_spark.operators.pq import ivfpq_point_search
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries = stores
    path = str(base / "ivfpq")
    reader = LocalIvfPqReader(path)
    for q in queries:
        want = _rows(
            ivfpq_point_search(spark, path, q.tolist(), metric="l2", k=10, nprobe=3)
        )
        got = _frame_rows(reader.search(q, k=10, nprobe=3))
        assert got == want


def test_survivor_pmod_vec_matches_scalar():
    # the vectorized uint64 path must agree with the scalar fold on
    # extreme ids (sign boundary, wraparound) and arbitrary mods
    import numpy as np

    from vector_search_go_spark.serve.xxh64 import (
        survivor_pmod,
        survivor_pmod_vec,
    )

    rng = np.random.default_rng(9)
    ids = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, size=500, dtype=np.int64),
            np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    for tree, h, mod in [(0, 0, 2), (7, -(2**40), 3), (39, 2**50 + 17, 13)]:
        got = survivor_pmod_vec(tree, h, ids, mod)
        want = [survivor_pmod(tree, h, int(i), mod) for i in ids.tolist()]
        assert got.tolist() == want


def test_survivor_pmod_multi_matches_per_bucket():
    # the batched many-bucket hash pass must be bit-equal to the
    # per-bucket vectorized call it replaced on the serving path
    import numpy as np

    from vector_search_go_spark.serve.xxh64 import (
        SEED,
        hash_int,
        hash_long,
        survivor_pmod_multi,
        survivor_pmod_vec,
    )

    rng = np.random.default_rng(11)
    buckets = [
        (t, h, rng.integers(-(2**62), 2**62, size=sz, dtype=np.int64), mod)
        for t, h, sz, mod in [
            (0, 0, 40, 2), (3, -(2**44), 123, 5), (39, 2**50 + 17, 7, 13),
        ]
    ]
    got = survivor_pmod_multi(
        [hash_long(h, hash_int(t, SEED)) for t, h, _, _ in buckets],
        [len(ids) for _, _, ids, _ in buckets],
        np.concatenate([ids for _, _, ids, _ in buckets]),
        [mod for _, _, _, mod in buckets],
    )
    want = np.concatenate(
        [survivor_pmod_vec(t, h, ids, mod) for t, h, ids, mod in buckets]
    )
    assert got.tolist() == want.tolist()


@pytest.fixture(scope="module")
def big_bucket_store(spark, tmp_path_factory):
    """A store whose candidate sets EXCEED the two-stage scorer's
    TWO_STAGE_MIN_PAIRS cutoff (k_min_vecs > corpus => one bucket per
    tree, no cap), so these tests exercise the BLAS-prefilter +
    exact-rescore path, not the small-set full-exact shortcut."""
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex

    base = tmp_path_factory.mktemp("serve_two_stage")
    rng = np.random.default_rng(5)
    X = rng.standard_normal((3000, 16))
    X[2900:] = X[2900]  # a near-boundary tie cluster for the margin set
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(3000)],
        "id bigint, vec array<double>",
    )
    LshIndex.train(
        spark, corpus, LshConfig(dims=16, n_trees=4, k_min_vecs=5000, seed=3)
    ).save(str(base / "lsh"))
    return str(base / "lsh"), X


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_two_stage_scorer_matches_full_exact(big_bucket_store, metric):
    # preloaded reader (precomputed norms) and lazy reader (norms per
    # read) on sets above TWO_STAGE_MIN_PAIRS vs the full seq_dists
    # ranking of every candidate: bit-identical rows, including the
    # duplicate tie cluster and a threshold cut
    from vector_search_go_spark.config import TWO_STAGE_MIN_PAIRS
    from vector_search_go_spark.functions.metrics import seq_dists
    from vector_search_go_spark.serve.local_reader import (
        LocalLshReader,
        _result_frame,
    )

    path, X = big_bucket_store
    fast = LocalLshReader(path, metric=metric, preload_buckets=True)
    lazy = LocalLshReader(path, metric=metric, preload_vectors=False)

    def full_exact(q, k, threshold=None):
        h = fast.forest.hash_batch(np.asarray(q, dtype=np.float64)[None, :])
        cand = np.asarray(fast._candidates(h, fast.forest.probe_batch(h)))
        assert len(cand) > TWO_STAGE_MIN_PAIRS
        d = seq_dists(metric, np.asarray(q, dtype=np.float64), X[cand])
        if threshold is not None:
            cand, d = cand[d <= threshold], d[d <= threshold]
        return _frame_rows(_result_frame(cand, d, k, 0))

    queries = [X[0], X[2900], X[123] * 1e6]  # huge scale: margin must adapt
    for q in queries:
        want = full_exact(q, 15)
        assert _frame_rows(fast.search(q, k=15)) == want
        assert _frame_rows(lazy.search(q, k=15)) == want
    thr = 1.0 if metric == "cosine" else 5.0
    want = full_exact(X[7], 2500, thr)
    assert _frame_rows(fast.search(X[7], k=2500, threshold=thr)) == want
    assert _frame_rows(lazy.search(X[7], k=2500, threshold=thr)) == want


def test_preload_buckets_matches_lazy_buckets(spark, stores):
    # in-memory bucket probe (searchsorted over preloaded arrays) vs
    # the stats-pruned parquet probe: same candidates => same rows,
    # including through the hot-bucket survivor rule
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    path = str(base / "lsh")
    mem = LocalLshReader(path, metric="l2", preload_buckets=True)
    lazy = LocalLshReader(path, metric="l2")
    for q in queries:
        h = mem.forest.hash_batch(np.asarray(q, dtype=np.float64)[None, :])
        p = mem.forest.probe_batch(h)
        ca = mem._candidates(h, p)
        cb = lazy._candidates(h, p)
        assert sorted(np.asarray(ca).tolist()) == sorted(
            np.asarray(cb).tolist()
        )
        assert _frame_rows(mem.search(q, k=10)) == _frame_rows(
            lazy.search(q, k=10)
        )


def test_search_many_matches_per_query(stores):
    # the batch API must be row-identical to per-query search()
    # concatenated — including through the batch-vs-single hashing
    # paths, the survivor rule, and a threshold cut
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    reader = LocalLshReader(str(base / "lsh"), metric="l2",
                            preload_buckets=True)
    Q = np.asarray(queries, dtype=np.float64)
    got = reader.search_many(Q, k=10, query_ids=[10, 11, 12, 13])
    want = [reader.search(q, k=10, query_id=10 + i) for i, q in enumerate(Q)]
    import pandas as pd

    pd.testing.assert_frame_equal(
        got.reset_index(drop=True),
        pd.concat(want, ignore_index=True),
    )
    got_t = reader.search_many(Q, k=10, threshold=8.0)
    want_t = [reader.search(q, k=10, threshold=8.0, query_id=i)
              for i, q in enumerate(Q)]
    pd.testing.assert_frame_equal(
        got_t.reset_index(drop=True), pd.concat(want_t, ignore_index=True)
    )


def test_local_ivf_reader_preload_cells(spark, stores):
    # in-memory cells mode must match the parquet-backed reader AND the
    # Spark point path
    from vector_search_go_spark.operators.ann_ivf import ivf_point_search
    from vector_search_go_spark.serve.local_reader import LocalIvfReader

    base, queries = stores
    path = str(base / "ivf")
    mem = LocalIvfReader(path, metric="cosine", preload_cells=True)
    lazy = LocalIvfReader(path, metric="cosine")
    for q in queries:
        a = _frame_rows(mem.search(q, k=10, nprobe=3))
        assert a == _frame_rows(lazy.search(q, k=10, nprobe=3))
        want = _rows(
            ivf_point_search(spark, path, q.tolist(), "cosine", k=10, nprobe=3)
        )
        assert a == want


def test_search_many_input_validation(stores):
    from vector_search_go_spark.serve.local_reader import LocalLshReader

    base, queries = stores
    reader = LocalLshReader(str(base / "lsh"), metric="l2")
    # empty batch -> well-formed empty frame, not a concat crash
    out = reader.search_many(np.empty((0, 64)), k=5)
    assert len(out) == 0 and list(out.columns) == ["query_id", "id", "dist", "rn"]
    # mismatched lengths -> loud error, never silent drops
    with pytest.raises(ValueError, match="query_ids"):
        reader.search_many(np.asarray(queries[:2]), k=5, query_ids=[1, 2, 3])


def test_local_reader_flag_routing(spark):
    from vector_search_go_spark.engine import VectorSearchEngine

    lsh_eng = VectorSearchEngine(spark, metric="l2", backend="lsh")
    with pytest.raises(ValueError, match="preload_cells"):
        lsh_eng.local_reader("/nonexistent", preload_cells=True)
    ivf_eng = VectorSearchEngine(spark, metric="l2", backend="ivf")
    with pytest.raises(ValueError, match="preload_buckets"):
        ivf_eng.local_reader("/nonexistent", preload_buckets=True)


def test_local_ivfpq_reader_preload_codes(spark, stores):
    # preloaded (ids, codes) arrays must give the SAME rows as the
    # lazy parquet path and the Spark point path on every fixture query
    from vector_search_go_spark.operators.pq import ivfpq_point_search
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries = stores
    path = str(base / "ivfpq")
    mem = LocalIvfPqReader(path, preload_codes=True)
    lazy = LocalIvfPqReader(path)
    for q in queries:
        a = _frame_rows(mem.search(q, k=10, nprobe=3))
        assert a == _frame_rows(lazy.search(q, k=10, nprobe=3))
        want = _rows(
            ivfpq_point_search(spark, path, q.tolist(), metric="l2", k=10, nprobe=3)
        )
        assert a == want


def test_local_ivf_search_many_matches_single(stores):
    # batch lookups must be row-identical to per-query search
    # concatenated, in both the lazy and preloaded regimes
    from vector_search_go_spark.serve.local_reader import LocalIvfReader

    base, queries = stores
    path = str(base / "ivf")
    for preload in (False, True):
        reader = LocalIvfReader(path, metric="cosine", preload_cells=preload)
        Q = np.asarray(queries)
        got = reader.search_many(Q, k=10, nprobe=3, query_ids=[7, 8, 9, 10])
        want = pd.concat(
            [
                reader.search(Q[i], k=10, nprobe=3, query_id=7 + i)
                for i in range(len(Q))
            ],
            ignore_index=True,
        )
        pd.testing.assert_frame_equal(got, want)
    # threshold path too
    reader = LocalIvfReader(path, metric="cosine")
    got = reader.search_many(Q, k=10, nprobe=3, threshold=0.5)
    want = pd.concat(
        [
            reader.search(Q[i], k=10, nprobe=3, threshold=0.5, query_id=i)
            for i in range(len(Q))
        ],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(got, want)


def test_local_ivf_two_stage_matches_full_exact_ranking(spark, stores, tmp_path):
    # probed-row sets below (nprobe=2) and above (nprobe=15, every
    # cell) TWO_STAGE_MIN_PAIRS: search and search_many, preloaded and
    # lazy, with tombstones and a threshold, must equal the full
    # seq_dists ranking of every live probed row
    import shutil

    from vector_search_go_spark.config import TWO_STAGE_MIN_PAIRS
    from vector_search_go_spark.functions.metrics import seq_dists
    from vector_search_go_spark.operators.ann_ivf import probe_cells
    from vector_search_go_spark.serve.local_reader import (
        LocalIvfReader,
        _result_frame,
    )
    from vector_search_go_spark.streaming.delete import delete_ids

    base, queries = stores
    path = str(tmp_path / "ivf")
    shutil.copytree(str(base / "ivf"), path)
    dead = [42, 1203, 1250, 7]  # a query's own row + duplicate-block ties
    delete_ids(spark, path, dead)
    readers = [
        LocalIvfReader(path, metric="cosine", preload_cells=p)
        for p in (True, False)
    ]
    cells = readers[0]._mem_cells

    def full_rank(q, nprobe, k, threshold, qid):
        probed = probe_cells([q], readers[0].model, "cosine", nprobe)[0]
        hit = [cells[int(c)] for c in probed if int(c) in cells]
        ids = np.concatenate([h[0] for h in hit])
        V = np.concatenate([h[1] for h in hit])
        live = ~np.isin(ids, dead)
        ids, V = ids[live], V[live]
        d = seq_dists("cosine", q, V)
        if threshold is not None:
            ids, d = ids[d <= threshold], d[d <= threshold]
        return _result_frame(ids, d, k, qid), len(live)

    Q = np.asarray(queries)
    sizes = set()
    for nprobe in (2, 15):
        for k, thr in ((10, None), (400, 0.9)):
            want = []
            for i, q in enumerate(Q):
                w, n_rows = full_rank(q, nprobe, k, thr, i)
                sizes.add(n_rows > TWO_STAGE_MIN_PAIRS)
                want.append(w)
                for rd in readers:
                    pd.testing.assert_frame_equal(
                        rd.search(q, k=k, nprobe=nprobe, threshold=thr,
                                  query_id=i),
                        w,
                    )
            for rd in readers:
                pd.testing.assert_frame_equal(
                    rd.search_many(Q, k=k, nprobe=nprobe, threshold=thr),
                    pd.concat(want, ignore_index=True),
                )
    assert sizes == {False, True}  # both sides of the crossover ran
    # the tombstones are on the tested path: query 0 is row 42's vector
    assert 42 not in set(readers[0].search(Q[0], k=10, nprobe=15)["id"])


def test_local_ivfpq_search_many_matches_single(stores):
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries = stores
    path = str(base / "ivfpq")
    Q = np.asarray(queries)
    for preload in (False, True):
        reader = LocalIvfPqReader(path, preload_codes=preload)
        got = reader.search_many(Q, k=10, nprobe=3)
        want = pd.concat(
            [
                reader.search(Q[i], k=10, nprobe=3, query_id=i)
                for i in range(len(Q))
            ],
            ignore_index=True,
        )
        pd.testing.assert_frame_equal(got, want)
    # empty batch + mismatched ids behave like the LSH batch API
    reader = LocalIvfPqReader(path)
    out = reader.search_many(np.empty((0, DIMS)), k=5)
    assert len(out) == 0 and list(out.columns) == ["query_id", "id", "dist", "rn"]
    with pytest.raises(ValueError, match="query_ids"):
        reader.search_many(Q[:2], k=5, query_ids=[1, 2, 3])


def test_reader_snapshot_across_compaction(spark, tmp_path):
    """Serving vs compaction contract: a FULLY-PRELOADED reader keeps
    serving its in-RAM snapshot through a store compaction (no file
    access after init), and a NEW reader over the compacted store is
    bit-identical — the re-load rule engine.compact/ingest_cycle
    document, pinned for the local serving tier."""
    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.serve.local_reader import LocalLshReader
    from vector_search_go_spark.streaming.ingest import (
        compact_bucket_store,
        ingest_to_lsh_store,
    )

    rng = np.random.default_rng(131)
    X = rng.standard_normal((800, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(600)],
        "id bigint, vec array<double>",
    )
    path = str(tmp_path / "idx")
    LshIndex.train(
        spark, corpus, LshConfig(dims=DIMS, n_trees=6, k_min_vecs=30, seed=5)
    ).save(path)
    # fragment the store the way production does: a streamed drain
    land = str(tmp_path / "land")
    spark.createDataFrame(
        [(int(600 + i), X[600 + i].tolist()) for i in range(200)],
        "id bigint, vec array<double>",
    ).write.mode("overwrite").parquet(land)
    forest = LshIndex.load_forest(spark, path)
    ingest_to_lsh_store(
        spark,
        spark.readStream.schema("id bigint, vec array<double>").parquet(land),
        forest,
        path,
        str(tmp_path / "ckpt"),
    )

    q = X[42]
    pre_mem = LocalLshReader(path, metric="l2", preload_buckets=True)
    want = _frame_rows(pre_mem.search(q, k=10))
    assert len(want) == 10

    compact_bucket_store(spark, f"{path}/buckets", keep_backup=False)
    # new reader over the compacted store: bit-identical
    post = LocalLshReader(path, metric="l2")
    assert _frame_rows(post.search(q, k=10)) == want
    # the preloaded pre-compaction reader still serves its snapshot
    assert _frame_rows(pre_mem.search(q, k=10)) == want


def test_swap_retry_lookup_races_directory_swap(spark, tmp_path):
    """VERDICT r5 item 5: a lookup that races a compaction's directory
    swap must be absorbed by the serving tier itself — the reader's
    file index holds pre-swap paths, the lazy open hits
    FileNotFoundError, and the @_swap_retry wrapper reloads the reader
    once and replays the lookup, returning the correct rows (the
    SCALE.md compaction probe's one 'retryable failure', closed)."""
    from vector_search_go_spark.operators.ann_ivf import ivf_save
    from vector_search_go_spark.serve.local_reader import LocalIvfReader
    from vector_search_go_spark.streaming.ingest import compact_cells_store

    rng = np.random.default_rng(97)
    X = rng.standard_normal((300, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(300)],
        "id bigint, vec array<double>",
    )
    cents = corpus.filter(F.col("id") % 50 == 0).select(
        (F.col("id") / 50).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    path = str(tmp_path / "ivf_swap")
    ivf_save(spark, corpus, cents, path, metric="cosine")
    q = X[17]

    want = _frame_rows(LocalIvfReader(path, metric="cosine").search(q, k=10))
    assert len(want) == 10

    # the racing reader: constructed BEFORE the swap (file paths listed,
    # parquet handles still cold — the mid-lookup state of a query that
    # probed before the swap landed), swap, then fetch
    racing = LocalIvfReader(path, metric="cosine")
    compact_cells_store(spark, f"{path}/cells", keep_backup=False)
    # the race is real: the undecorated index read fails on stale paths
    probed_cell = racing._cells.values()[0]
    with pytest.raises(FileNotFoundError):
        racing._cells.read_value(probed_cell, ["id"])
    # ...but the decorated lookup absorbs it: one reload, correct rows
    # (compaction rewrites files, not rows, so pre == post here)
    assert _frame_rows(racing.search(q, k=10)) == want

    # same contract on the batch path, racing a second swap
    racing2 = LocalIvfReader(path, metric="cosine")
    compact_cells_store(spark, f"{path}/cells", keep_backup=False)
    got = racing2.search_many([q, X[33]], k=10, query_ids=[7, 8])
    single = LocalIvfReader(path, metric="cosine")
    import pandas as pd

    want2 = pd.concat(
        [single.search(q, k=10, query_id=7), single.search(X[33], k=10, query_id=8)],
        ignore_index=True,
    )
    assert _frame_rows(got) == _frame_rows(want2)


def test_local_ivfpq_reader_preload_vectors(spark, stores):
    """The pinned-vectors rerank regime (r8: the batch rerank I/O fix's
    RAM path) must be bit-identical to the disk rerank and the Spark
    point path — search, search_many, and the shard-candidate legs."""
    from vector_search_go_spark.operators.pq import ivfpq_point_search
    from vector_search_go_spark.serve.local_reader import LocalIvfPqReader

    base, queries = stores
    path = str(base / "ivfpq")
    mem = LocalIvfPqReader(path, preload_codes=True, preload_vectors=True)
    lazy = LocalIvfPqReader(path)
    for q in queries:
        a = _frame_rows(mem.search(q, k=10, nprobe=3))
        assert a == _frame_rows(lazy.search(q, k=10, nprobe=3))
        want = _rows(
            ivfpq_point_search(spark, path, q.tolist(), metric="l2", k=10, nprobe=3)
        )
        assert a == want
    Q = np.asarray(queries)
    pd.testing.assert_frame_equal(
        mem.search_many(Q, k=10, nprobe=3),
        lazy.search_many(Q, k=10, nprobe=3),
    )
    for q in queries:
        pd.testing.assert_frame_equal(
            mem.shard_candidates_many([q], shortlist=17, nprobe=3, query_ids=[3]),
            lazy.shard_candidates_many([q], shortlist=17, nprobe=3, query_ids=[3]),
        )
    pd.testing.assert_frame_equal(
        mem.shard_candidates_many(Q, shortlist=17, nprobe=3),
        lazy.shard_candidates_many(Q, shortlist=17, nprobe=3),
    )


def test_topn_equals_full_lexsort_under_pivot_ties():
    """The shared partition-then-lexsort top-n (every reader's result
    ranking, the IVFADC shortlist, the sharded router and the ADC mesh
    scorer) equals a full (dist, id) lexsort when many rows tie with the
    n-th distance — including duplicate (dist, id) rows, which keep
    their row order — on both sides of its partition switch."""
    from vector_search_go_spark.operators.argmin import topn

    rng = np.random.default_rng(19)
    for trial in range(300):
        m = int(rng.integers(1, 500))
        n = int(rng.integers(1, 40))
        d = rng.choice([0.25, 0.5, 0.75, 1.0], size=m)
        if trial % 3:
            ids = rng.permutation(10 * m)[:m]
        else:
            ids = rng.integers(0, max(1, m // 4), size=m)  # repeated ids
        want = np.lexsort((ids, d))[:n]
        assert np.array_equal(topn(ids, d, n), want), trial


def test_row_group_index_serial_and_parallel_reads_identical(tmp_path):
    """RowGroupIndex's serial and thread-pool reads return identical
    tables (same rows, same order) for the same matched groups —
    sorted files plus an appended unsorted one whose group ranges
    overlap — whichever side of _PARALLEL_MIN_GROUPS a read lands."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_search_go_spark.serve.pqindex import RowGroupIndex

    rng = np.random.default_rng(29)

    def write(name, ids):
        vec = pa.array(rng.standard_normal((len(ids), 4)).tolist())
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "vec": vec}),
            str(tmp_path / name), row_group_size=7,
        )

    write("part-0.parquet", np.arange(0, 300))
    write("part-1.parquet", np.arange(300, 520))
    write("part-2.parquet", rng.permutation(np.arange(100, 400))[:60])
    idx = RowGroupIndex(sorted(str(p) for p in tmp_path.glob("*.parquet")), "id")
    for keys in ([5], [3, 150, 301, 519], rng.choice(520, 90, replace=False)):
        mg = idx.matching_groups(keys)
        serial = pa.concat_tables(idx._read_serial(mg, ["id", "vec"]))
        parallel = pa.concat_tables(idx._read_parallel(mg, ["id", "vec"]))
        assert serial.equals(parallel)
        idx._PARALLEL_MIN_GROUPS = 1
        via_parallel = idx.read(keys, ["id", "vec"])
        idx._PARALLEL_MIN_GROUPS = 10**9
        assert via_parallel.equals(idx.read(keys, ["id", "vec"]))
        assert via_parallel.equals(serial)
        got = set(serial.column("id").to_pylist())
        assert {int(k) for k in keys} <= got
