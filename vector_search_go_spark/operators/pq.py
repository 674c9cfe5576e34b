"""Product quantization (PQ): compressed-domain ANN search.

The compression companion to the coarse quantizer (ann_ivf.py) and the
tree LSH (lsh/): each vector is split into M contiguous subvectors and
every subvector is replaced by the id of its nearest codeword, so a
64-dim float vector (256 B) becomes M=16 one-byte codes — a 16x
storage cut. Search runs in the compressed domain
via asymmetric distance computation (ADC, Jegou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011): the query
precomputes its distance to every codeword once (M x C table), candidate
distances are then pure table lookups, and only a short ADC shortlist is
reranked against the raw vectors.

Codebooks here are a deterministic subset of the corpus (the first
``n_codes`` vectors' subvectors) rather than k-means — the same
seed-free, oracle-expressible choice as ann_ivf.py centroids; trained
codebooks change nothing structurally.

At 100 TB: encoding is a broadcast-join map stage (codebook is KBs) with
a map-side-combinable argmin; the ADC table (queries x M x C rows) is
always the broadcast side of the search join; the raw-vector rerank
touches only |queries| x shortlist rows. The corpus never shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — module scope so pandas_udf signatures
# survive postponed annotation evaluation
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import l2_dist, seq_dists
from vector_search_go_spark.io import meta_files, parse_meta_files
from vector_search_go_spark.operators.topk import topk_per_group

M_SUB = 16  # subspaces
D_SUB = 4  # dims per subspace (M_SUB * D_SUB = embedding dim)
N_CODES = 128  # codewords per subspace
PQ_SHORTLIST = 100  # ADC shortlist reranked exactly (floor; see pq_shortlist)


def default_k_cells(n: int) -> int:
    """Coarse-cell count for an IVFADC store over ``n`` vectors:
    ~sqrt(n) rounded to a power of two, clamped to [256, 65536] — the
    standard sizing rule (cells ~ sqrt(n) balances the query's two
    scan terms: nprobe-proportional centroid scoring vs cell-member
    ADC scans). The r10 10M sweep (SCALE.md "Coarse-cell count
    scaling") measures the rule's terms: at MATCHED probed mass
    (nprobe = k_cells/128), finer cells cost build time roughly
    linearly in k_cells while recall at a fixed shortlist moves little
    on low-contrast data — the cell count is a BUILD-TIME knob the
    serving-time advisor (tune.recall_frontier_advisor) cannot tune,
    so size it by this rule up front.

    Pure arithmetic; callers that need a different trade pass k_cells
    explicitly (tools/probe_100m.py --build takes it positionally)."""
    import math

    target = max(1.0, math.sqrt(max(1, int(n))))
    k = 1 << int(round(math.log2(target)))
    return max(256, min(65536, k))


def pq_shortlist(k: int = 10) -> int:
    """Fixed rerank budget, independent of corpus size: max(100, 4k).

    The old corpus//8 scaling defeated the point of compression — at
    100 TB reranking an eighth of the corpus IS a corpus scan (VERDICT
    r2 finding #5). The fix was making the ADC ranking good enough that
    a constant shortlist holds recall: at M_SUB=16 4-dim subspaces
    (vs the previous 8x8), shortlist=100 measures recall 0.9350 with
    the sampled codebook and 0.9700 k-means-trained on the sf0.1 bench
    corpus (1,960 vectors, 40 queries, k=10) — above the 0.93/0.85
    BASELINE.md bands with a rerank cost that stays flat as the corpus
    grows (SCALE.md probes it at 1M vectors)."""
    return max(PQ_SHORTLIST, 4 * k)


def resolve_shortlist(k: int, shortlist: int | None, recorded: int | None) -> int:
    """The ADC shortlist an IVFADC lookup reranks: ``shortlist`` when
    given, else the store's rebuild-time measured budget
    (``recorded``: store_meta's recommended_shortlist, 0/None when the
    store has none) floored at pq_shortlist(k), so a larger k keeps its
    4k margin. The one resolution of the local readers, the shard
    router and the Spark point path."""
    if shortlist is not None:
        return int(shortlist)
    return max(int(recorded or 0), pq_shortlist(k))


def resolve_sq8_keep(k: int, sq8_keep: int | None) -> int:
    """How many SQ8-ranked ids of the ADC shortlist pay the exact float
    fetch under rerank='sq8': ``sq8_keep`` when given, else the
    pq_shortlist(k) floor."""
    return pq_shortlist(k) if sq8_keep is None else int(sq8_keep)


def _subvec(col: Column, sub: Column) -> Column:
    return F.slice(col, sub * D_SUB + 1, F.lit(D_SUB))


def pq_codebook(emb: DataFrame) -> DataFrame:
    """embeddings(vec_id, embedding) -> (sub, code, cvec): codeword
    ``code`` of subspace ``sub`` is the sub-th subvector of vector
    ``vec_id == code`` (deterministic sampled codebook)."""
    return (
        emb.filter(F.col("vec_id") < N_CODES)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))).alias("sub"),
            "embedding",
        )
        .select("sub", "code", _subvec(F.col("embedding"), F.col("sub")).alias("cvec"))
    )


def subvectors(df: DataFrame, id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """(id, vec) -> (sub, id, vec): one row per subspace with the
    D_SUB-dim slice — the training corpus for per-subspace k-means."""
    return df.select(
        F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))).alias("sub"),
        F.col(id_col).alias("id"),
        F.col(vec_col),
    ).select("sub", "id", _subvec(F.col(vec_col), F.col("sub")).alias("vec"))


def pq_codebook_trained(
    corpus: DataFrame, iters: int = 3, exact: bool = False
) -> DataFrame:
    """corpus(id, vec) -> (sub, code, cvec): k-means-trained codebooks,
    one independent Lloyd run per subspace in a single grouped plan
    (operators.kmeans, group=['sub']). Versus the sampled codebook
    (pq_codebook), trained codewords cut ADC rank error: measured
    recall 0.9350 -> 0.9700 at the fixed 100-row shortlist on the
    sf0.1 bench (M=16 4-dim subspaces)."""
    from vector_search_go_spark.operators.kmeans import kmeans_fit

    cents = kmeans_fit(
        subvectors(corpus), k=N_CODES, iters=iters, dim=D_SUB, exact=exact,
        group=["sub"],
    )
    return cents.select("sub", F.col("cid").alias("code"), "cvec")


def pq_codebook_residual(
    corpus: DataFrame,
    coarse_cents: DataFrame,
    iters: int = 3,
    exact: bool = False,
) -> DataFrame:
    """corpus(id, vec) x coarse centroids -> (sub, code, cvec): the PQ
    codebook TRAINED ON RESIDUALS x - centroid(cell) — the model half
    of the residual IVFADC construction (see pq_codes_residual_udf).
    One assignment map stage + one residual map stage feed the same
    grouped Lloyd chain as pq_codebook_trained; the corpus never
    shuffles."""
    from vector_search_go_spark.operators.ann_ivf import assign_cells

    res = assign_cells(corpus, coarse_cents, metric="l2").select(
        "id",
        residual_vec_udf(coarse_cents)(F.col("vec"), F.col("cell")).alias(
            "vec"
        ),
    )
    return pq_codebook_trained(res, iters=iters, exact=exact)


def pq_encode(corpus: DataFrame, codebook: DataFrame) -> DataFrame:
    """corpus(id, vec) -> (id, sub, code): nearest codeword per
    subspace, (dist, code) tie-break. The corpus is never shuffled or
    aggregated (VERDICT r2 finding #3).

    One Arrow-batched pandas UDF (pq_codes_udf) computes all M_SUB
    codes per vector with numpy using SEQUENTIAL per-dimension adds —
    the exact IEEE order of the Catalyst fold, so codes hash-equal the
    DuckDB oracle — then posexplode fans out (sub, code). The codebook
    rides in the UDF closure (KBs). This is the sanctioned Python hot
    path: a batched matmul-shaped kernel built-ins cannot express
    efficiently (the interpreted higher-order-lambda argmin over 16
    subspaces x 128 codewords is minutes of lambda dispatch at 1M
    vectors)."""
    return corpus.select(
        "id", F.posexplode(pq_codes_udf(codebook)(F.col("vec"))).alias("sub", "code")
    )


def _codebook_mats(codebook: DataFrame):
    """codebook -> ({sub: code ids sorted}, {sub: matrix}) closure payload."""
    from vector_search_go_spark.operators.model_store import local_rows

    rows = local_rows(codebook, ["sub", "code", "cvec"])
    if rows is None:
        rows = codebook.select("sub", "code", "cvec").collect()
    rows = sorted(rows, key=lambda r: (r["sub"], r["code"]))
    mats: dict[int, np.ndarray] = {}
    ids: dict[int, np.ndarray] = {}
    for sub in {r["sub"] for r in rows}:
        sub_rows = [r for r in rows if r["sub"] == sub]
        ids[sub] = np.array([r["code"] for r in sub_rows], dtype=np.int64)
        mats[sub] = np.array([list(r["cvec"]) for r in sub_rows], dtype=np.float64)
    return ids, mats


def pq_encode_np(V: np.ndarray, cb_ids: dict, cb_mats: dict) -> np.ndarray:
    """float64 rows -> (n, M_SUB) int64 PQ codes: per subspace, the
    sequential per-dimension squared L2 (seq_dists 'sq_l2') to every
    codeword and the FIRST minimum over ascending code ids == the
    Catalyst min(struct(d, code)) fold. NaN sorts last there, as in
    argmin.nearest_pos (codebook training), so a NaN codeword never
    wins a row with a number. The one PQ encode every Arrow kernel runs
    (raw and residual codes UDFs, fused ADC scans)."""
    codes = np.empty((len(V), M_SUB), dtype=np.int64)
    for sub in range(M_SUB):
        Vs = V[:, sub * D_SUB : (sub + 1) * D_SUB]
        D = seq_dists("sq_l2", Vs[:, None], cb_mats[sub][None])
        pos = D.argmin(axis=1)
        nan = np.isnan(D[np.arange(len(D)), pos])  # argmin stops at a NaN
        if nan.any():
            Dn = D[nan]  # first NaN-skipping minimum; all-NaN rows -> 0
            pos[nan] = (Dn == np.fmin.reduce(Dn, axis=1)[:, None]).argmax(axis=1)
        codes[:, sub] = cb_ids[sub][pos]
    return codes


def pq_codes_udf(codebook: DataFrame):
    """Arrow kernel: full-width vector -> packed array<int> of M_SUB
    codes in one pass (the codebook rides in the closure, KBs) —
    pq_encode_np."""
    from pyspark.sql.functions import pandas_udf

    ids, mats = _codebook_mats(codebook)

    @pandas_udf("array<int>")
    def codes_udf(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(pq_encode_np(V, ids, mats).astype(np.int32)))

    return codes_udf


def _coarse_pos(coarse_cents) -> tuple:
    """(centroid matrix float64[C, D], {cid: row}) from a centroid
    DataFrame or a preloaded (cids, matrix) model — the closure payload
    of the residual kernels."""
    from vector_search_go_spark.operators.argmin import collect_centroids

    if isinstance(coarse_cents, tuple):
        cids, C = coarse_cents
    else:
        cids, C = collect_centroids(coarse_cents)
    return C, {int(c): i for i, c in enumerate(cids)}


def residual_vec_udf(coarse_cents):
    """Arrow kernel: (vec, cell) -> x - centroid(cell) as
    array<double> — the residual the IVFADC codebook trains on and
    encodes (Jegou et al. 2011 §IV.A: quantizing residuals concentrates
    the PQ codebook on within-cell variance, the standard fix for ADC
    rank error burying near-tie neighbors — the measured failure in
    SCALE.md's 100M sweep). Elementwise float64 subtraction ==
    Catalyst zip_with double subtract == the oracle's list_transform
    CAST(vec AS DOUBLE) - cvec, so the residual corpus is bit-portable
    across all three."""
    from pyspark.sql.functions import pandas_udf

    C, pos = _coarse_pos(coarse_cents)

    @pandas_udf("array<double>")
    def rvec(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        idx = np.array([pos[int(c)] for c in cells], dtype=np.int64)
        return pd.Series(list(V - C[idx]))

    return rvec


def pq_codes_residual_udf(codebook: DataFrame, coarse_cents):
    """Arrow kernel: (vec, cell) -> packed codes of the RESIDUAL
    x - centroid(cell) — pq_codes_udf with the subtraction fused into
    the same batch pass (one map stage over the corpus, models ride the
    closure). ``codebook`` must itself be trained on residuals
    (pq_codebook_trained over residual_vec_udf output) for the codes to
    mean anything; search builds its ADC tables over the residual query
    q - centroid(cell) per probed cell."""
    from pyspark.sql.functions import pandas_udf

    ids, mats = _codebook_mats(codebook)
    C, pos = _coarse_pos(coarse_cents)

    @pandas_udf("array<int>")
    def codes_udf(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        idx = np.array([pos[int(c)] for c in cells], dtype=np.int64)
        codes = pq_encode_np(V - C[idx], ids, mats)
        return pd.Series(list(codes.astype(np.int32)))

    return codes_udf


def stack_codebook(cb_ids, cb_mats) -> tuple[np.ndarray, np.ndarray]:
    """({sub: code ids}, {sub: codeword rows}) -> (cb3, missing): the
    (M_SUB, n_codes, D_SUB) codeword tensor residual_lut broadcasts
    over, and the (M_SUB, n_codes) mask of code slots a ragged trained
    codebook leaves empty (their table entries stay 0.0). Built once
    per loaded codebook."""
    n_codes = max(int(cb_ids[s].max()) for s in cb_ids) + 1
    cb3 = np.zeros((M_SUB, n_codes, D_SUB))
    missing = np.ones((M_SUB, n_codes), dtype=bool)
    for sub in range(M_SUB):
        cb3[sub, cb_ids[sub]] = cb_mats[sub]
        missing[sub, cb_ids[sub]] = False
    return cb3, missing


def residual_lut(q: np.ndarray, cent_rows: np.ndarray, codebook) -> np.ndarray:
    """The per-(query, cell) ADC lookup tables of a residual store:
    LUT[cell][sub][code] = squared L2 from (q - centroid(cell))'s sub-th
    subvector to that codeword — same sequential-IEEE kernel as the raw
    LUT, so the table is bit-identical wherever it is built (Spark
    point paths, local reader, shard readers, shortlist probe). A raw
    store's table is the one for a zero centroid row (q - 0.0 == q).

    ``codebook`` is stack_codebook's (cb3, missing). ``cent_rows`` is a
    (n_cells, D) matrix of centroid rows -> tables (n_cells, M_SUB,
    n_codes); a single (D,) row -> its (M_SUB, n_codes) table. All
    subspaces and cells come from ONE seq_dists broadcast of the
    (cells, M_SUB, 1, D_SUB) residual subvectors against the stacked
    codebook, so every float equals a per-subspace 'sq_l2' table's."""
    cb3, missing = codebook
    cent_rows = np.asarray(cent_rows, dtype=np.float64)
    QR = (q[None, :] - np.atleast_2d(cent_rows)).reshape(-1, M_SUB, 1, D_SUB)
    lut = seq_dists("sq_l2", QR, cb3[None])
    lut[:, missing] = 0.0
    return lut[0] if cent_rows.ndim == 1 else lut


def adc_fold(luts: np.ndarray, lut_idx: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Squared ADC sum of each codes row under its own table
    ``luts[lut_idx[row]]`` — M_SUB sequential adds in subspace order,
    the per-row float order every ADC scorer shares (sqrt is the
    caller's)."""
    acc = np.zeros(len(codes))
    for sub in range(M_SUB):
        acc = acc + luts[lut_idx, sub, codes[:, sub]]
    return acc


def ivfadc_dists(Q, cell_qpos: dict, cent: dict, codebook, cells, codes):
    """Residual-IVFADC distances of every (row, probing query) pair of
    one batch — the one per-(cell, query) ADC scorer of the Spark
    IVFADC paths (the fused scan and both point searches).

    ``Q`` (n_q, D) query rows; ``cell_qpos`` cell id -> positions in
    ``Q`` of the queries probing that cell; ``cent`` cell id ->
    centroid row (a raw store passes zero rows: residual_lut's
    q - 0.0 == q); ``codebook`` is stack_codebook's pair; ``cells``
    (n,) the cell of each row and ``codes`` its (n, M_SUB) codes.

    Tables come from residual_lut, one call per query over that
    query's cells, and sums from adc_fold — the serving readers'
    kernels and float order, so every distance equals theirs. The
    (query, cell) pairs are processed in chunks of at most 1024
    tables, so peak memory does not grow with the query batch.
    Returns flat (query position, row index, dist) arrays."""
    order = np.argsort(cells, kind="stable")
    ucells, starts, counts = np.unique(
        cells[order], return_index=True, return_counts=True
    )
    pair_q, pair_u = [], []
    for u, c in enumerate(ucells.tolist()):
        qs = cell_qpos.get(int(c), ())
        pair_q.extend(qs)
        pair_u.extend([u] * len(qs))
    pair_q = np.asarray(pair_q, dtype=np.int64)
    pair_u = np.asarray(pair_u, dtype=np.int64)
    by_q = np.lexsort((pair_u, pair_q))
    pair_q, pair_u = pair_q[by_q], pair_u[by_q]
    out_q = [np.empty(0, dtype=np.int64)]
    out_r = [np.empty(0, dtype=np.int64)]
    out_d = [np.empty(0)]
    for s0 in range(0, len(pair_q), 1024):
        cq, cu = pair_q[s0 : s0 + 1024], pair_u[s0 : s0 + 1024]
        # one residual_lut call per query run in the chunk
        bounds = np.flatnonzero(np.r_[True, cq[1:] != cq[:-1], True])
        luts = np.concatenate(
            [
                residual_lut(
                    Q[cq[a]], np.array([cent[int(c)] for c in ucells[cu[a:b]]]),
                    codebook,
                )
                for a, b in zip(bounds[:-1], bounds[1:])
            ]
        )
        # expand each pair to its cell's rows (contiguous in ``order``)
        n = counts[cu]
        rows = order[np.repeat(starts[cu] - np.cumsum(n) + n, n) + np.arange(n.sum())]
        lut_idx = np.repeat(np.arange(len(cu)), n)
        out_q.append(np.repeat(cq, n))
        out_r.append(rows)
        out_d.append(np.sqrt(adc_fold(luts, lut_idx, codes[rows])))
    return np.concatenate(out_q), np.concatenate(out_r), np.concatenate(out_d)


def pq_adc_scores_fused(
    corpus: DataFrame,
    codebook: DataFrame,
    queries: DataFrame | None = None,
    qrows: list | None = None,
    local_topk: int | None = None,
    truth_k: int | None = None,
):
    """(query_id, id, approx_dist) with PQ encode and full-mesh ADC
    scoring FUSED into one Arrow stage over the raw corpus
    (argmin.scan_topk): each batch is encoded (pq_encode_np) and
    scored against every query's raw table (residual_lut over a zero
    centroid row), the M_SUB lookups summed in subspace order — the
    pq oracle hashes pin every float. ``local_topk`` is the exact
    per-batch (approx_dist, id) mesh truncation, selection-monotone
    for the downstream topk(shortlist) -> rerank -> topk(k).

    ``truth_k``: the scan also feeds the exact-KNN truth chain and the
    result is an (approx, truth) pair (see scan_topk)."""
    from vector_search_go_spark.operators.argmin import (
        mesh_topk_arrays,
        query_matrix,
        scan_topk,
    )

    if qrows is None:
        qrows = queries.select("query_id", "qvec").collect()

    def scorer(rows):
        qids, Q = query_matrix(rows)
        cb_ids, cb_mats = _codebook_mats(codebook)
        # adc[q, sub, code]: codes must be the contiguous 0..N-1 range
        for sub in range(M_SUB):
            assert list(cb_ids[sub]) == list(range(N_CODES)), (
                "non-contiguous codebook codes"
            )
        cbs = stack_codebook(cb_ids, cb_mats)
        zero = np.zeros(Q.shape[1])
        adc = np.stack([residual_lut(q, zero, cbs) for q in Q])

        def score(V, ids_b):
            C = pq_encode_np(V, cb_ids, cb_mats)
            s = np.zeros((len(C), len(qids)))
            for j in range(M_SUB):
                s += adc[:, j, C[:, j]].T
            L = len(C) if local_topk is None else local_topk
            return mesh_topk_arrays(np.sqrt(s), ids_b, qids, L)

        return score

    return scan_topk(corpus, qrows, scorer, "approx_dist", "l2", truth_k)


def ivfpq_adc_scores_fused(
    corpus: DataFrame,
    codebook: DataFrame,
    coarse_cents,
    cell_to_queries: dict,
    qrows: list,
    local_topk: int | None = None,
    truth_k: int | None = None,
):
    """(query_id, id, approx_dist) over the residual-IVFADC chain with
    coarse assignment, residual encode and ADC scoring FUSED into ONE
    Arrow map stage over the corpus (argmin.scan_topk, guide §4.2).
    Bit-identical to the unfused assign -> residual encode -> probe
    join -> ADC chain, piece by piece:

      - assignment: sqrt'd sequential-IEEE L2 + first-min argmin over
        ascending cids == argmin_id_arrow(metric='l2') == the Catalyst
        fold's (dist, cid) order;
      - residual codes: pq_encode_np == pq_codes_residual_udf;
      - ADC: ivfadc_dists — residual_lut tables per (query, cell),
        adc_fold's subspace-ordered sums, sqrt at the end (the
        ivfpq_residual_adc_verdict oracle hash pins every float);
      - ``local_topk`` is the exact per-batch (approx_dist, id)
        truncation — selection-monotone for every downstream
        topk(shortlist) -> rerank -> topk(k) consumer.

    ``cell_to_queries`` maps cell id -> probing query ids (the inverse
    of the driver-side probe selection, ann_ivf.probe_cells);
    ``qrows`` is the collected (query_id, qvec) batch. ``truth_k``: the
    scan also feeds the exact-KNN truth chain and the result is an
    (approx, truth) pair (see scan_topk)."""
    from vector_search_go_spark.operators.argmin import (
        local_topk_flat,
        nearest_pos,
        query_matrix,
        scan_topk,
    )

    def scorer(rows):
        qids, Q = query_matrix(rows)
        qpos = {int(q): i for i, q in enumerate(qids)}
        cb_ids, cb_mats = _codebook_mats(codebook)
        cbs = stack_codebook(cb_ids, cb_mats)
        C, cpos = _coarse_pos(coarse_cents)
        cids = np.array(sorted(cpos, key=cpos.get), dtype=np.int64)
        cell_qpos = {
            int(c): [qpos[int(q)] for q in qs] for c, qs in cell_to_queries.items()
        }
        cent = {c: C[cpos[c]] for c in cell_qpos}

        def score(V, ids_b):
            # coarse assignment: compare sqrt'd distances (the domain
            # metric_dist and the oracle rank in — see argmin_id_arrow)
            cell_idx = nearest_pos("l2", V, C)
            codes = pq_encode_np(V - C[cell_idx], cb_ids, cb_mats)
            qp, r, d = ivfadc_dists(Q, cell_qpos, cent, cbs, cids[cell_idx], codes)
            q_arr, i_arr = qids[qp], ids_b[r]
            if local_topk is None:
                return q_arr, i_arr, d
            keep = local_topk_flat(q_arr, i_arr, d, local_topk)
            return q_arr[keep], i_arr[keep], d[keep]

        return score

    return scan_topk(corpus, qrows, scorer, "approx_dist", "l2", truth_k)


def pq_rerank(
    approx: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int,
) -> DataFrame:
    """ADC scores -> shortlist -> exact-L2 rerank -> (query_id, id,
    dist, rn)."""
    short = topk_per_group(
        approx, ["query_id"], "approx_dist", shortlist, tiebreak_cols=["id"],
        rank_name="_s",
    ).select("query_id", "id")
    rer = (
        F.broadcast(short)
        .join(corpus, on="id")
        .join(F.broadcast(queries), on="query_id")
        .withColumn("dist", l2_dist(F.col("qvec"), F.col("vec")))
    )
    top = topk_per_group(rer, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def ivfpq_save(
    spark,
    corpus: DataFrame,
    coarse_cents: DataFrame,
    codebook: DataFrame,
    path: str,
    metric: str = "l2",
    shards: int | None = None,
    encoding: str = "residual",
    sq8: bool = False,
    _sq8_stats=None,
) -> None:
    """Persist a composed IVF+PQ index (the FAISS IVFADC layout) as a
    serving store:

      {path}/cells      (id, codes array<int>) partitioned by cell —
                        16x-compressed codes colocated with their
                        coarse cell, scanned only when probed
      {path}/vectors    (id, vec) — full-precision rows for the exact
                        rerank fetch, range-partitioned and sorted by
                        id so the shortlist's pushed ``id IN (...)``
                        skips row groups; at 100 TB this table can
                        live on cold storage, only shortlist row
                        groups are read
      {path}/centroids  coarse model      {path}/codebook  PQ model

    The ADC shortlist stage ranks by squared L2, so the store is
    L2-only; for cosine, L2-normalize vectors upstream (ordering is
    then equivalent) and keep metric='l2'.

    Assignment and encoding are both closure-kernel map stages — the
    corpus is scanned once and never shuffled except the partitioned
    writes themselves.

    ``shards=N``: the sharded serving layout (serve.sharded) — each
    {path}/shard=K is a complete ivfpq_save of the id-subset
    pmod(xxhash64(id), N) == K against the SAME coarse centroids and
    codebook. Identical models mean every shard probes identical cells
    and builds identical ADC lookup tables, so per-shard ADC values are
    comparable floats and the router's global-shortlist merge is exact
    (the selection-monotone argument in serve/sharded.py): the union of
    per-shard ADC top-L supersets the global ADC top-L. At 100 TB the
    COMPRESSED store is the one that must shard — raw vectors do not
    fit one reader's RAM, codes do per shard.

    ``encoding='residual'`` (default; VERDICT r9 item 1): codes are PQ
    over the RESIDUAL x - centroid(cell) and search LUTs are built per
    (query, probed cell) over q - centroid(cell) — the canonical IVFADC
    construction (Jegou et al. 2011 §IV.A). ``codebook`` must then be
    trained on residuals (residual_vec_udf -> pq_codebook_trained).
    ``encoding='raw'`` keeps the pre-r10 raw-vector codes + one global
    LUT per query. The choice rides in store_meta; every reader and
    probe resolves it from there — sharded merges stay exact either way
    (identical models => identical per-(query, cell) LUTs per shard).

    ``sq8=True`` (VERDICT r10 item 4) additionally writes the SQ8
    rerank tier: ``{path}/vectors_sq8`` (id, packed uint8 codes as
    binary — 8x smaller rows than the float vectors) and
    ``{path}/sq8_stats`` (per-dim mins/scales). Stats are exact global
    min/max over the WHOLE corpus — in the sharded layout they are
    computed once and shared, like the centroids and codebook, so
    sq8 distances are comparable across shards and the two-phase
    sharded merge stays exact. Readers opt in per search with
    ``rerank='sq8'``; existing stores gain the tier via
    sq8_augment_store."""
    from vector_search_go_spark.operators.ann_ivf import assign_cells

    if metric != "l2":
        raise ValueError(
            "IVFADC ranks its shortlist by squared L2; for cosine, "
            "L2-normalize the corpus and queries and use metric='l2'"
        )
    if encoding not in ("residual", "raw"):
        raise ValueError(f"unknown ivfpq encoding {encoding!r}")
    if shards is not None:
        from vector_search_go_spark.serve.sharded import (
            check_shard_population,
            shard_expr,
            write_shards_meta,
        )

        # pin all three inputs once: the per-shard saves re-run the
        # corpus lineage N more times, and the model producers (lazy
        # kmeans_fit / pq_codebook_trained plans, themselves
        # corpus-sized) would re-train per shard — the same N-fold
        # build blow-up LshIndex.save's sharded branch caches against
        coarse_cents = spark.createDataFrame(
            coarse_cents.collect(), coarse_cents.schema
        )
        codebook = spark.createDataFrame(codebook.collect(), codebook.schema)
        was_cached = corpus.is_cached
        if not was_cached:
            corpus = corpus.cache()
            corpus.count()
        try:
            check_shard_population(corpus, shards, "ivfpq corpus")
            if sq8 and _sq8_stats is None:
                _sq8_stats = _sq8_global_stats(corpus)
            sh = shard_expr(shards)
            for k in range(shards):
                ivfpq_save(
                    spark, corpus.filter(sh == k), coarse_cents, codebook,
                    f"{path}/shard={k}", metric=metric, encoding=encoding,
                    sq8=sq8, _sq8_stats=_sq8_stats,
                )
            write_shards_meta(spark, path, "ivfpq", shards, metric=metric)
        finally:
            if not was_cached:
                corpus.unpersist()
        return
    assigned = assign_cells(corpus, coarse_cents, metric=metric)
    if encoding == "residual":
        codes_col = pq_codes_residual_udf(codebook, coarse_cents)(
            F.col("vec"), F.col("cell")
        )
    else:
        codes_col = pq_codes_udf(codebook)(F.col("vec"))
    cells = assigned.select("cell", "id", codes_col.alias("codes"))
    (
        cells.repartitionByRange(8, "cell")
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    (
        corpus.select("id", "vec")
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        # small row groups: the rerank fetch reads ~shortlist-many
        # SCATTERED ids, so decode cost per matched row group must stay
        # near the shortlist row size (the local reader's stats index
        # and Spark's pushed `id IN` both prune at row-group
        # granularity). 64 KiB ≈ 120 x 64-d rows per group: measured
        # 237.6 -> 23.9 ms/q median on the 1M ivfpq-local probe vs
        # 512 KiB, at ~8x more footer stats (tiny) and a mild
        # sequential-scan cost only compaction-style readers ever see.
        .option("parquet.block.size", 64 << 10)
        .parquet(f"{path}/vectors")
    )
    coarse_cents.write.mode("overwrite").parquet(f"{path}/centroids")
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    if sq8:
        if _sq8_stats is None:
            _sq8_stats = _sq8_global_stats(corpus)
        write_sq8_tier(spark, corpus.select("id", "vec"), _sq8_stats, path)
    # family/metric metadata + the build-time cell-mass baseline —
    # streaming ingest (ingest_to_ivfpq_store) appends through the
    # frozen models, and drift maintenance (maintain_ivfpq) compares
    # the store's current cell masses against this snapshot, exactly
    # like ivf_save/cell_staleness
    import json as _json

    spark.createDataFrame(
        [(
            _json.dumps(
                {"family": "ivfpq", "metric": metric, "encoding": encoding}
            ),
        )],
        "meta_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
    spark.catalog.refreshByPath(f"{path}/cells")
    (
        spark.read.parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("sz"))
        .write.mode("overwrite")
        .parquet(f"{path}/build_stats")
    )


# (path) -> (freshness_key, recommended_shortlist | None). Serving loops
# call ivfpq_point_search per lookup with shortlist=None; without a memo
# every lookup would pay a glob+JSON parse (local) or a whole Spark json
# job ('://' paths) — on exactly the path the models= parameter exists
# to keep corpus-size-independent. Local entries key on the meta files'
# (path, mtime_ns) so an external rewrite invalidates them for free;
# remote entries cannot stat cheaply, so maintain_ivfpq drops its entry
# explicitly after rewriting store_meta (invalidate_stored_shortlist).
_SHORTLIST_MEMO: dict[str, tuple[tuple, int | None]] = {}


def invalidate_stored_shortlist(path: str) -> None:
    _SHORTLIST_MEMO.pop(path, None)
    _ENCODING_MEMO.pop(path, None)


# (path) -> (freshness_key, 'residual' | 'raw'). Same serving-path memo
# contract as _SHORTLIST_MEMO: local entries key on the meta files'
# mtimes, remote entries are dropped by invalidate_stored_shortlist
# after a rebuild rewrites store_meta.
_ENCODING_MEMO: dict[str, tuple[tuple, str]] = {}


def store_encoding(spark, path: str) -> str:
    """'residual' | 'raw' for the IVFADC store at ``path``. Sharded
    layouts resolve from shard=0's store_meta (each per-shard save
    carries the tag; the layout root holds only shards_meta until a
    retune merges one in). Stores that predate the tag are 'raw' —
    absence maps to the old semantics, never a guess."""
    import os as _os

    key: tuple = ()
    if "://" not in path:
        files = meta_files(path) + meta_files(f"{path}/shard=0")
        key = tuple((f, _os.stat(f).st_mtime_ns) for f in files)
    hit = _ENCODING_MEMO.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    meta = read_store_meta_any(spark, path)
    enc = meta.get("encoding")
    family = meta.get("family")
    if enc is None:
        shard_meta = read_store_meta_any(spark, f"{path}/shard=0")
        enc = shard_meta.get("encoding")
        family = family or shard_meta.get("family")
    if enc is None and family == "ivfpq":
        # VERDICT r10 item 5: every ivfpq_save since the residual
        # encoding landed writes the tag, so an ivfpq store_meta
        # WITHOUT one is either a pre-residual store (legitimately
        # raw) or — the bug class this guards — a meta rewritten from
        # scratch instead of merged (merge_store_meta), which silently
        # flips readers to raw-LUT scoring of residual codes. Assume
        # raw, but say so.
        import warnings

        warnings.warn(
            f"ivfpq store at {path!r} has no 'encoding' tag in "
            "store_meta — assuming 'raw'. If this store was saved with "
            "residual encoding, its meta was rewritten without merging "
            "(use merge_store_meta); raw-LUT scoring of residual codes "
            "returns wrong distances.",
            stacklevel=2,
        )
    enc = str(enc) if enc is not None else "raw"
    _ENCODING_MEMO[path] = (key, enc)
    return enc


def _sq8_global_stats(corpus: DataFrame):
    """(mins, scales) float64 arrays of exact per-dimension min/max over
    ``corpus`` — one map-side-combinable aggregation (sq8_stats), the
    same stats contract as the standalone sq8 family. Returned as numpy
    so the sharded save can broadcast one copy into every shard's
    writer closure."""
    import numpy as np

    from vector_search_go_spark.operators.sq8 import sq8_stats

    dim = len(corpus.select("vec").first()["vec"])
    row = sq8_stats(corpus.select("id", "vec"), dim).collect()[0]
    return (
        np.array(list(row["mins"]), dtype=np.float64),
        np.array(list(row["scales"]), dtype=np.float64),
    )


def write_sq8_tier(spark, vectors: DataFrame, stats, path: str) -> None:
    """Write the SQ8 rerank tier next to an IVFADC store's tables:
    ``{path}/vectors_sq8`` (id, codes binary — one uint8 per dimension,
    id-sorted small row groups so the shortlist fetch prunes row groups
    exactly like the float rerank fetch) and ``{path}/sq8_stats`` (one
    row: mins, scales). ``stats`` is the (mins, scales) numpy pair from
    _sq8_global_stats — REQUIRED to be corpus-global in sharded
    layouts."""
    from vector_search_go_spark.operators.sq8 import sq8_encode_bytes_udf

    mins, scales = stats
    enc = sq8_encode_bytes_udf(mins, scales)
    (
        vectors.select("id", enc(F.col("vec")).alias("codes"))
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        # same small-row-group rationale as the vectors table: the
        # fetch reads ~shortlist scattered ids; codes rows are 8x
        # smaller so ~120-row groups stay well under the 64 KiB target
        .option("parquet.block.size", 16 << 10)
        .parquet(f"{path}/vectors_sq8")
    )
    spark.createDataFrame(
        [(mins.tolist(), scales.tolist())],
        "mins array<double>, scales array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/sq8_stats")


def sq8_augment_store(spark, path: str, shards: int | None = None) -> None:
    """Add the SQ8 rerank tier to an EXISTING IVFADC store (built
    before ``ivfpq_save(sq8=True)`` existed, or deliberately without
    it): reads the store's own vectors tables, computes one exact
    global stats row, and writes vectors_sq8 + sq8_stats per shard.
    ``shards=None`` autodetects the sharded layout from shards_meta.
    Idempotent — rerunning overwrites the tier in place; the float
    vectors and codes tables are never touched."""
    import os as _os

    if shards is None:
        from vector_search_go_spark.serve.sharded import read_shards_meta

        sm = read_shards_meta(path) if "://" in path or _os.path.exists(
            path
        ) else None
        shards = int(sm["n_shards"]) if sm else 0
    bases = (
        [f"{path}/shard={k}" for k in range(shards)] if shards else [path]
    )
    all_vecs = spark.read.parquet(*[f"{b}/vectors" for b in bases])
    stats = _sq8_global_stats(all_vecs)
    for b in bases:
        write_sq8_tier(
            spark, spark.read.parquet(f"{b}/vectors").select("id", "vec"),
            stats, b,
        )


def merge_store_meta(spark, path: str, updates: dict) -> dict:
    """Merge ``updates`` into ``{path}/store_meta`` and rewrite it —
    THE way to persist meta changes (VERDICT r10 item 5). A rewrite
    built from scratch drops whatever keys it didn't know about; the
    round-10 in-round bugs were exactly that: tests rewriting
    family/metric meta lost the 'encoding' tag and readers silently
    fell back to raw-LUT scoring. Reads through read_store_meta_any so
    local and remote ('://') stores both merge. Returns the merged
    payload."""
    import json as _json

    meta = read_store_meta_any(spark, path)
    meta.update(updates)
    spark.createDataFrame(
        [(_json.dumps(meta),)], "meta_json string"
    ).coalesce(1).write.mode("overwrite").json(f"{path}/store_meta")
    spark.catalog.refreshByPath(f"{path}/store_meta")
    invalidate_stored_shortlist(path)
    return meta


def read_store_meta_any(spark, path: str) -> dict:
    """The store_meta payload at ``path`` for ANY path scheme: local
    paths parse the JSON part files directly (serve.local_reader),
    remote ('://') paths read through Spark. {} when the table is
    absent; parse errors raise (absence != unreadable — the
    _stored_shortlist contract). Every advisor/maintenance persist
    that MERGES into store_meta goes through this (ADVICE r9: the
    local-only merge meant a remote store's retune overwrote its
    family/metric keys)."""
    if "://" not in path:
        from vector_search_go_spark.serve.local_reader import _read_store_meta

        return _read_store_meta(path)
    import json as _json

    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.json(f"{path}/store_meta").collect()
    except AnalysisException:  # absent meta table; parse errors raise
        return {}
    for r in rows:
        if r["meta_json"]:
            return _json.loads(r["meta_json"])
    return {}


def _stored_shortlist(spark, path: str) -> int | None:
    """The measured rerank budget persisted in ``{path}/store_meta`` by
    maintain_ivfpq's rebuild-time ADC probe (adc_shortlist_probe); None
    when the store predates the probe (plain ivfpq_save) or carries no
    recommendation. ABSENCE maps to None; a meta directory that exists
    but cannot be parsed raises — silently falling back would disable
    the measured budget without a trace (the engine.py:556 lesson)."""
    import json as _json
    import os as _os

    if "://" in path:
        hit = _SHORTLIST_MEMO.get(path)
        if hit is not None:
            return hit[1]
        from pyspark.errors import AnalysisException

        try:
            rows = spark.read.json(f"{path}/store_meta").collect()
            metas = [_json.loads(r["meta_json"]) for r in rows]
        except AnalysisException:  # absent meta table; parse errors raise
            metas = []
        val = next(
            (
                int(m["recommended_shortlist"])
                for m in metas
                if "recommended_shortlist" in m
            ),
            None,
        )
        _SHORTLIST_MEMO[path] = ((), val)
        return val

    files = meta_files(path)
    if not files:
        return None
    key = tuple((f, _os.stat(f).st_mtime_ns) for f in files)
    hit = _SHORTLIST_MEMO.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    meta = parse_meta_files(files) or {}
    val = (
        int(meta["recommended_shortlist"])
        if "recommended_shortlist" in meta
        else None
    )
    _SHORTLIST_MEMO[path] = (key, val)
    return val


def adc_shortlist_probe(
    spark,
    path: str,
    k: int = 10,
    n_queries: int = 20,
    sample_rows: int = 5_000,
    quantile: float = 0.9,
    safety: float = 1.25,
    seed: int = 7,
    sample_mode: str = "cells",
) -> dict:
    """Measure, on a saved IVFADC store's OWN vectors, how deep the ADC
    ranking buries true neighbors — and recommend the rerank budget
    that covers them (VERDICT r5 item 4).

    Rationale: (cells, nprobe) cannot fix IVFADC recall on a
    low-contrast corpus — in the 6-sigma drift fixture nprobe already
    covers every cell, yet recall stops at 0.67 because true top-10
    neighbors rank as deep as ~340/800 in ADC order (quantization
    error rivals the tiny neighbor-distance gaps, the same
    no-structure regime as the SCALE.md angular probes). The knob that
    moves recall is the SHORTLIST, so that is what the rebuild
    re-picks, by measurement — the LSH advisor lesson (tune.py)
    applied to IVFADC.

    Shape: bounded driver-side probe, two small reads — sample <=
    ``sample_rows`` store vectors (a few MB; the advisor_report
    contract: one partition's worth, never the corpus), take
    ``n_queries`` evenly-id-spaced members as queries, fetch those
    rows' codes from the STORE's own cells table (measuring the
    encoding the store actually serves, not a re-derivation that a
    floating-point near-tie could flip), build each query's LUT with
    the sequential-IEEE kernel serving uses (residual_lut), and take the
    ``quantile`` of "rank of the worst true top-k neighbor" as a
    corpus FRACTION, scaled back to store size with a ``safety``
    margin. The exact-truth ranking uses the BLAS form — ranks only,
    never served values. Well-separated corpora measure a tiny
    fraction and stay at the pq_shortlist floor — the recommendation
    only grows when the store's own geometry demands it, and it is
    capped at the store size. Returns {recommended_shortlist,
    shortlist_frac, rank_needed, n_sample, n_store}.

    Sampling is deterministic id-hash thinning (the kmeans_fit
    sample_rows pattern; ADVICE r6): sample().limit() depends on
    file/partition order, so a re-save or different parallelism would
    shift the measured budget — the id-hash sample is a pure function
    of the ids, layout-independent. A SHARDED layout (shards_meta)
    probes the union of shard tables against the shared shard=0
    codebook — the recommendation must reflect the GLOBAL geometry the
    router's global shortlist serves.

    ``sample_mode='cells'`` (default; VERDICT r10 item 2): CELL-LOCAL
    sampling + a two-rate extrapolation. The r10 receipts showed the
    uniform sample is blind to clustered geometry — at 4,096 clusters
    a 5,000-row sample holds ~1.2 rows/cluster, so every sampled
    "neighbor" is cross-cluster, rank error looks corpus-proportional,
    and the recommendation overshoots the measured knee by orders of
    magnitude (recall 1.0 at 277,500 rows where the floor already
    serves it). Cell-local sampling takes WHOLE coarse cells
    (hash-ordered, until the row budget; id-hash-thinned only past 2x
    budget), so each query's sampled neighborhood has the store's TRUE
    local density. Extrapolation then splits the measured rank mass:
    rows in the query's own cell are counted at their realized
    sampling rate (~1 for a complete cell — local mass does NOT grow
    with the corpus), rows outside extrapolate at the rest-of-store
    rate exactly like the uniform rule. With uniform rates the two-rate
    formula reduces to the old needed/m * n_store, so well-mixed
    corpora keep their r5-r10 behavior while clustered corpora land
    near the knee. ``sample_mode='uniform'`` keeps the pre-r11 path."""
    import numpy as np

    smeta = None
    if "://" not in path:
        from vector_search_go_spark.serve.sharded import read_shards_meta

        smeta = read_shards_meta(path)
    if smeta is not None:
        from vector_search_go_spark.serve.sharded import union_shard_component

        n_sh = int(smeta["n_shards"])
        vectors = union_shard_component(spark, path, n_sh, "vectors").select(
            "id", "vec"
        )
        cells_df = union_shard_component(spark, path, n_sh, "cells")
        codebook_df = spark.read.parquet(f"{path}/shard=0/codebook")
        cents_path = f"{path}/shard=0/centroids"
    else:
        from vector_search_go_spark.streaming.delete import mask_tombstones

        vectors = mask_tombstones(
            spark, path, spark.read.parquet(f"{path}/vectors")
        ).select("id", "vec")
        cells_df = mask_tombstones(spark, path, spark.read.parquet(f"{path}/cells"))
        codebook_df = spark.read.parquet(f"{path}/codebook")
        cents_path = f"{path}/centroids"
    enc = store_encoding(spark, path)
    n_store = vectors.count()
    if sample_mode not in ("cells", "uniform"):
        raise ValueError(f"unknown sample_mode {sample_mode!r}")
    cell_masses: dict | None = None
    if sample_mode == "cells":
        from vector_search_go_spark.serve.xxh64 import SEED, hash_long

        # CURRENT per-cell masses from the codes table itself (one
        # bounded aggregation over 16-byte rows — the maintain
        # staleness pass does the same at 100M in ~37 s); they drive
        # both the cell choice and the two-rate extrapolation
        mass_rows = (
            cells_df.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("sz"))
            .collect()
        )
        cell_masses = {int(r["cell"]): int(r["sz"]) for r in mass_rows}
        ordered = sorted(
            cell_masses,
            key=lambda c: (hash_long(int(c), SEED ^ int(seed)), c),
        )
        chosen, tot = [], 0
        for c in ordered:
            chosen.append(int(c))
            tot += cell_masses[c]
            # at least 8 cells (when the store has them) so the probe
            # never judges the whole store from one cell's geometry —
            # on a 100M x 1024-cell store one cell already exceeds the
            # row budget; the id-hash thinning below restores it while
            # keeping per-cell density ~1000x the uniform sample's
            if tot >= min(sample_rows, n_store) and len(chosen) >= min(
                8, len(ordered)
            ):
                break
        sub = cells_df.filter(F.col("cell").isin(chosen))
        if tot > 2 * sample_rows:
            # one id-hash thinning pass keeps the per-cell rate uniform
            # and deterministic; the realized rate feeds r_own below
            mod = int(np.ceil(tot / (2 * sample_rows)))
            sub = sub.filter(
                F.pmod(F.xxhash64("id", F.lit(int(seed))), F.lit(mod)) == 0
            )
        code_rows = sub.select("id", "cell", "codes").dropDuplicates(
            ["id"]
        ).collect()
        code_map = {r["id"]: (r["cell"], r["codes"]) for r in code_rows}
        ids = np.array(sorted(int(i) for i in code_map), dtype=np.int64)
        ids_df = spark.createDataFrame([(int(i),) for i in ids], "id bigint")
        vrows = (
            vectors.join(F.broadcast(ids_df), "id")
            .dropDuplicates(["id"])
            .collect()
        )
        vmap = {r["id"]: r["vec"] for r in vrows}
        missing = [int(i) for i in ids if int(i) not in vmap]
        if missing:
            raise ValueError(
                f"{len(missing)} sampled codes ids have no vectors row "
                f"in {path}/vectors (e.g. {missing[:3]}) — store "
                "components are out of sync; re-save before probing"
            )
        X = np.array([vmap[int(i)] for i in ids], dtype=np.float64)
    else:
        # thin down to AT MOST 4x the target with id-hash passes (each
        # pass divides by >= 2), then collect and trim to sample_rows by
        # keeping the smallest driver-side id hashes — still a pure
        # function of the ids (layout-independent). The result is AT
        # MOST sample_rows: the thinning passes target ~2x the budget
        # but carry hash variance, so a pass can land under it and the
        # trim then keeps what survived (never an issue for the
        # quantile — the rank fraction normalizes by the realized m,
        # and m stays within ~2x of the budget)
        sample, m_est, salt = vectors, n_store, int(seed)
        for _ in range(12):  # each pass halves at least; 12 covers 4000x
            if m_est <= 4 * sample_rows:
                break
            mod = max(2, m_est // (2 * sample_rows))
            sample = sample.filter(
                F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(mod)) == 0
            )
            salt += 1
            m_est = sample.count()
        rows = sample.collect()
        if len(rows) > sample_rows:
            from vector_search_go_spark.serve.xxh64 import SEED, hash_long

            # the trim hash folds the caller's seed (ADVICE r7: with the
            # fixed module SEED alone, seed= had no effect at all whenever
            # n_store <= 4*sample_rows skipped the thinning passes)
            rows.sort(
                key=lambda r: (hash_long(int(r["id"]), SEED ^ int(seed)), r["id"])
            )
            rows = rows[:sample_rows]
        rows.sort(key=lambda r: r["id"])
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        X = np.array([r["vec"] for r in rows], dtype=np.float64)
        # the STORE's codes for the sampled ids — broadcast-joined, so
        # the cells scan stays one bounded read (dup ids from
        # at-least-once streaming drains collapse; codes are identical
        # replays)
        ids_df = spark.createDataFrame([(int(i),) for i in ids], "id bigint")
        code_rows = (
            cells_df
            .join(F.broadcast(ids_df), "id")
            .select("id", "cell", "codes")
            .dropDuplicates(["id"])
            .collect()
        )
        code_map = {r["id"]: (r["cell"], r["codes"]) for r in code_rows}
        missing = [int(i) for i in ids if int(i) not in code_map]
        if missing:
            raise ValueError(
                f"{len(missing)} sampled vector ids have no codes row in "
                f"{path}/cells (e.g. {missing[:3]}) — store components are "
                "out of sync; re-save before probing"
            )
    m = len(ids)
    qpos = np.unique(np.linspace(0, m - 1, min(n_queries, m)).round().astype(int))

    # exact squared-L2 ranking (ranks only — BLAS form is fine here)
    sq = (X * X).sum(axis=1)
    codes = np.array([code_map[int(i)][1] for i in ids], dtype=np.int64)
    cbs = stack_codebook(*_codebook_mats(codebook_df.select("sub", "code", "cvec")))
    # per-row cell labels: the residual scorer keys its LUTs on them,
    # and the cells-mode extrapolation splits rank mass by them
    cellarr = np.array(
        [int(code_map[int(i)][0]) for i in ids], dtype=np.int64
    )
    if enc == "residual":
        # residual ADC ranks score each sampled row under ITS OWN
        # cell's LUT — exactly what serving's per-(query, cell) tables
        # compute. One batched residual_lut build over the sample's
        # distinct cells per query
        dcells = np.unique(cellarr)
        cell_idx = np.searchsorted(dcells, cellarr)
        from vector_search_go_spark.operators.ann_ivf import load_ivf_model

        cids_all, C_all = load_ivf_model(spark, cents_path)
        cpos_all = {int(c): i for i, c in enumerate(cids_all)}
        Cd = C_all[[cpos_all[int(c)] for c in dcells]]
    else:
        # a raw store's one table per query is the zero-centroid one
        Cd = np.zeros((1, X.shape[1]))
        cell_idx = np.zeros(m, dtype=np.int64)

    ranks_needed = []
    needed_global = []
    for qi in qpos:
        q = X[qi]
        exact = sq - 2.0 * (X @ q) + (q @ q)
        truth = np.lexsort((ids, exact))[:k]
        adc = adc_fold(residual_lut(q, Cd, cbs), cell_idx, codes)
        order = np.lexsort((ids, adc))
        pos = np.empty(m, dtype=np.int64)
        pos[order] = np.arange(m)
        rank_q = int(pos[truth].max()) + 1
        ranks_needed.append(rank_q)
        if sample_mode == "cells":
            # two-rate extrapolation: the rank mass S (everything at or
            # before the worst true neighbor in ADC order) splits into
            # a = own-cell rows, scaled by the cell's REALIZED sampling
            # rate (local mass — does not grow with the corpus), and
            # b = cross-cell rows, scaled by the rest-of-store rate
            # (the uniform rule, applied only to the mass it is true of)
            S = order[:rank_q]
            cq = int(cellarr[qi])
            a = int((cellarr[S] == cq).sum())
            b = rank_q - a
            n_c = max(1, int(cell_masses.get(cq, 1)))
            m_c = int((cellarr == cq).sum())
            r_own = m_c / n_c
            rest_m = m - m_c
            rest_n = max(1, n_store - n_c)
            g = a / max(r_own, 1e-12)
            if b:
                g += b / max(rest_m / rest_n, 1e-12)
            needed_global.append(g)

    ranks_needed.sort()
    qidx = min(
        len(ranks_needed) - 1, int(np.ceil(quantile * (len(ranks_needed) - 1)))
    )
    needed = ranks_needed[qidx]
    if sample_mode == "cells":
        needed_global.sort()
        g = needed_global[qidx]
        frac = g / n_store
        recommended = int(
            max(pq_shortlist(k), min(n_store, int(np.ceil(safety * g))))
        )
    else:
        frac = needed / m
        recommended = int(
            max(pq_shortlist(k), min(n_store, int(np.ceil(safety * frac * n_store))))
        )
    return {
        "recommended_shortlist": recommended,
        "shortlist_frac": round(float(frac), 6),
        "rank_needed": int(needed),
        "n_sample": int(m),
        "n_store": int(n_store),
        "sample_mode": sample_mode,
    }


def load_ivfpq_models(spark, path: str):
    """Collect both model tables of a saved IVFADC store once:
    (coarse (cids, matrix), codebook ({sub: ids}, {sub: mats})). Pass
    to ivfpq_point_search(models=...) so serving lookups pay no
    model-collect jobs."""
    from vector_search_go_spark.operators.ann_ivf import load_ivf_model

    coarse = load_ivf_model(spark, f"{path}/centroids")
    cb = _codebook_mats(
        spark.read.parquet(f"{path}/codebook").select("sub", "code", "cvec")
    )
    return coarse, cb


def _probed_centroids(enc: str, coarse_model, cells, dims: int) -> dict:
    """cell id -> the centroid row its ADC tables subtract: the coarse
    centroid for a residual store, a zero row for a raw one."""
    if enc != "residual":
        return dict.fromkeys(cells, np.zeros(dims))
    C, cpos = _coarse_pos(coarse_model)
    return {c: C[cpos[c]] for c in cells}


def ivfpq_point_search_batch(
    spark,
    path: str,
    queries,
    metric: str = "l2",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    models=None,
) -> DataFrame:
    """Serve a SMALL batch of queries from a saved IVFADC store in TWO
    jobs total (shortlist + rerank) regardless of batch size; the one
    pipeline behind ivfpq_point_search (a batch of one). See SCALE.md's
    serving table for the per-query latency batching buys.

    ``queries`` = [(query_id, qvec), ...]. Coarse probes and all ADC
    lookup tables compute driver-side for the whole batch (both models
    are KBs — pass ``models`` = load_ivfpq_models() to amortize the
    loads across lookups; LUTs are batch x M_SUB x n_codes doubles,
    closure-shippable). The codes scan reads ONLY the union of probed
    cell partitions and scores each row against exactly the queries
    that probed its cell with M_SUB table lookups (no vector math, no
    full vectors read); per-query ADC shortlists collect together
    (bounded: batch x shortlist rows) and one ``id IN`` push into the
    sorted vectors table reads only shortlist row groups for the
    fanned-in exact rerank. I/O = probed-cell codes + shortlist vector
    row groups — both corpus-size-independent. L2-only like the store
    (see ivfpq_save). A query's rows do not depend on the rest of its
    batch; they are bit-identical to LocalIvfPqReader on the same store
    (tests/test_serving_batch.py)."""
    import numpy as np

    from vector_search_go_spark.operators.ann_ivf import load_ivf_model, probe_cells
    from vector_search_go_spark.operators.argmin import (
        fanin_query_scorer,
        local_topk_flat,
    )

    if metric != "l2":
        raise ValueError(
            "IVFADC ranks its shortlist by squared L2; for cosine, "
            "L2-normalize the corpus and queries and use metric='l2'"
        )
    if not queries:
        raise ValueError("ivfpq_point_search_batch needs at least one query")
    if shortlist is None:
        # the store's meta is read only when no budget is given
        shortlist = resolve_shortlist(k, None, _stored_shortlist(spark, path))
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_id in batch")
    Q = np.asarray([list(v) for _, v in queries], dtype=np.float64)
    enc = store_encoding(spark, path)
    coarse_model, cb_model = models if models is not None else (None, None)
    if coarse_model is None:
        coarse_model = load_ivf_model(spark, f"{path}/centroids")
    probed = probe_cells(Q, coarse_model, metric, nprobe)

    ids, mats = cb_model if cb_model is not None else _codebook_mats(
        spark.read.parquet(f"{path}/codebook").select("sub", "code", "cvec")
    )

    cell_qpos: dict[int, list[int]] = {}
    for pos, cells_q in enumerate(probed):
        for c in cells_q:
            cell_qpos.setdefault(int(c), []).append(pos)
    qid_arr = np.asarray(qids, dtype=np.int64)
    # the (model-sized) probed-cell centroid rows + codebook ride the
    # closure; the kernel builds each (query, cell) table per batch
    cent = _probed_centroids(enc, coarse_model, cell_qpos, Q.shape[1])
    cbs = stack_codebook(ids, mats)

    from vector_search_go_spark.streaming.delete import mask_tombstones

    scan = mask_tombstones(
        spark, path, spark.read.parquet(f"{path}/cells")
    ).filter(F.col("cell").isin(sorted(cell_qpos)))
    id_t = scan.schema["id"].dataType.simpleString()

    def adc_score(batches):
        # the one IVFADC scorer over the whole batch; the exact
        # local top-shortlist per query is result-identical for the
        # downstream topk(shortlist) -> rerank -> topk(k)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            qp, rows, d = ivfadc_dists(
                Q, cell_qpos, cent, cbs, pdf["cell"].to_numpy(), C
            )
            q_arr, out_ids = qid_arr[qp], np.asarray(pdf["id"])[rows]
            if np.issubdtype(out_ids.dtype, np.number):
                keep = local_topk_flat(q_arr, out_ids, d, shortlist)
                q_arr, out_ids, d = q_arr[keep], out_ids[keep], d[keep]
            if len(d):
                yield pd.DataFrame(
                    {"query_id": q_arr, "id": out_ids, "adc_dist": d}
                )

    cand = scan.select("cell", "id", "codes").mapInPandas(
        adc_score, schema=f"query_id bigint, id {id_t}, adc_dist double"
    )
    short = topk_per_group(
        cand, ["query_id"], "adc_dist", shortlist, tiebreak_cols=["id"],
        rank_name="_s",
    ).select("query_id", "id")

    # bounded collect: batch x shortlist rows; the union id list pushes
    # one `id IN (...)` into the sorted vectors table and the per-id
    # query lists ride the rerank scorer's closure
    id_qids: dict = {}
    for r in short.collect():
        id_qids.setdefault(r["id"], []).append(r["query_id"])
    id_qids = {i: sorted(qs) for i, qs in id_qids.items()}
    # the batch is driver-side already: the scorer takes its rows as is
    # (a query DataFrame would cost a collect job per lookup)
    qrows = [{"query_id": qid, "qvec": Q[i]} for i, qid in enumerate(qids)]
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("id").isin(sorted(id_qids))
    )
    rer = vectors.mapInPandas(
        fanin_query_scorer(
            None, metric, local_topk=k, qrows=qrows, qids_by=("id", id_qids)
        ),
        schema=f"query_id bigint, id {id_t}, dist double",
    )
    top = topk_per_group(rer, ["query_id"], "dist", k, tiebreak_cols=["id"])
    return top.select("query_id", "id", "dist", "rn")


def ivfpq_point_search(
    spark,
    path: str,
    qvec,
    metric: str = "l2",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    models=None,
) -> DataFrame:
    """Serve ONE query from a saved IVF+PQ store: a one-query
    ivfpq_point_search_batch. Returns (query_id=0, id, dist, rn)."""
    return ivfpq_point_search_batch(
        spark, path, [(0, qvec)], metric=metric, k=k, nprobe=nprobe,
        shortlist=shortlist, models=models,
    )
