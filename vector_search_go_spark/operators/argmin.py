"""Arrow-batched nearest-centroid assignment and the one corpus-scan
driver of the Spark ANN kernels.

Assignment (``argmin_id_arrow``, ``argmin_id_arrow_grouped``): the
centroid set is tiny (k x dim doubles, KBs), so it is collected once on
the driver and rides in a pandas_udf closure; each Arrow batch takes
every row's nearest centroid with functions.metrics.seq_nearest (a BLAS
bound, then the sequential per-dimension IEEE kernel of the Catalyst
``metric_dist`` fold on the few centroids that can win, so distances
are the oracle's bit for bit) and keeps the first minimum over
ascending ids, the (dist, id) tie-break of ``min(struct(d, id))``. The
corpus is never shuffled or aggregated: an assignment plan is one map
stage plus the KB-sized centroid collect (k-means runs it once per
Lloyd iteration, PQ once per encode).

Search (``scan_topk``): one ``mapInPandas`` over the corpus per search
family (IVF, PQ, IVFADC, SQ8, exact KNN), each batch cut to its exact
local top-L under the (dist, id) order before the global top-k merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — module scope so pandas_udf signatures
# survive postponed annotation evaluation
from pyspark.sql import DataFrame

from vector_search_go_spark.functions.metrics import (
    check_metric,
    seq_dists,
    seq_nearest,
)


def collect_centroids(cents: DataFrame, id_col: str = "cid", vec_col: str = "cvec"):
    """Materialize a centroid table to (ids int32[], matrix float64[C, D])
    sorted by id — the closure payload for the Arrow argmin below. The
    collect is model-sized (k x dim doubles, KBs)."""
    from vector_search_go_spark.operators.model_store import local_rows

    rows = local_rows(cents, [id_col, vec_col])
    if rows is None:
        rows = cents.select(id_col, vec_col).collect()
    rows = sorted(rows, key=lambda r: r[id_col])
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    mat = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return ids, mat


def argmin_id_arrow(cents: DataFrame, metric: str = "sq_l2",
                    id_col: str = "cid", vec_col: str = "cvec"):
    """Arrow-batched nearest-centroid id: returns a pandas_udf column
    function over the row vector. Spark's higher-order lambdas
    (transform/aggregate) evaluate INTERPRETED per element — at 1M
    vectors x 128 codewords the expression argmin is minutes of lambda
    dispatch, while this numpy version is one BLAS-shaped loop per
    Arrow batch (measured ~30x on the 1M probe). Each row's nearest
    centroid comes from nearest_pos (functions.metrics.seq_nearest),
    whose distances are metric_dist's bit for bit (pinned by the
    DuckDB oracle gate and tests/test_argmin_parity.py's in-test
    fold).

    ``metric='l2'`` compares sqrt'd distances, the domain metric_dist
    and the oracle rank in: sqrt is IEEE correctly-rounded in both
    numpy and the JVM, but it can map two distinct squared values onto
    one double — compare in the same domain or tie-breaks could
    diverge."""
    from pyspark.sql.functions import pandas_udf

    check_metric(metric)
    ids, mat = collect_centroids(cents, id_col=id_col, vec_col=vec_col)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        # ids are sorted ascending, so the first minimum breaks ties
        # toward the smallest id = min(struct(d, id))
        return pd.Series(ids[nearest_pos(metric, V, mat)].astype(np.int32))

    return nearest


def argmin_id_arrow_grouped(
    cents: DataFrame,
    group_col: str,
    metric: str = "sq_l2",
    id_col: str = "cid",
    vec_col: str = "cvec",
):
    """Grouped twin of argmin_id_arrow: one independent centroid set per
    ``group_col`` value (the PQ per-subspace shape). Returns a
    pandas_udf over (group, vec); the per-group centroid matrices ride
    in the closure (M x k x dim doubles — still model-sized)."""
    from pyspark.sql.functions import pandas_udf

    check_metric(metric)
    rows = sorted(
        cents.select(group_col, id_col, vec_col).collect(),
        key=lambda r: (r[group_col], r[id_col]),
    )
    ids: dict = {}
    mats: dict = {}
    for g in {r[group_col] for r in rows}:
        g_rows = [r for r in rows if r[group_col] == g]
        ids[g] = np.array([r[id_col] for r in g_rows], dtype=np.int64)
        mats[g] = np.array([list(r[vec_col]) for r in g_rows], dtype=np.float64)

    @pandas_udf("int")
    def nearest(groups: pd.Series, vecs: pd.Series) -> pd.Series:
        gv = groups.to_numpy()
        out = np.empty(len(gv), dtype=np.int32)
        for g in np.unique(gv):
            m = gv == g
            V = np.array(vecs[m].tolist(), dtype=np.float64)
            out[m] = ids[g][nearest_pos(metric, V, mats[g])]
        return pd.Series(out)

    return nearest


def local_topk_flat(q_arr, ids_arr, d_arr, L: int):
    """Indices of the exact per-query top-L pairs under the (d, id)
    order, over flat parallel arrays (query, id, dist) — the one shared
    implementation of the local-top-k reduction every Arrow kernel
    leans on (exact-KNN, fan-in scorer, ADC, SQ8). One grouped lexsort;
    no per-query boolean scans. Returns an index array into the inputs
    (grouped by query, (d, id)-sorted within each group); empty input
    -> empty index array."""
    n = len(d_arr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((ids_arr, d_arr, q_arr))
    qs = np.asarray(q_arr)[order]
    starts = np.nonzero(np.r_[True, qs[1:] != qs[:-1]])[0]
    sizes = np.diff(np.r_[starts, n])
    grp = np.repeat(np.arange(len(starts)), sizes)
    rank = np.arange(n) - starts[grp]
    return order[rank < L]


def topn(ids: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """``np.lexsort((ids, d))[:n]`` for numeric ``ids``: the (dist, id)
    tie-break of every reader, shard leg, router merge and mesh scorer.
    Past max(2n, 256) rows it partitions to the n-th smallest ``d``,
    keeps EVERY row tied with it and lexsorts only those; below, the
    partition's ~5 us fixed cost exceeds the lexsort (measured at
    n = 1-400, one core)."""
    if len(d) > max(2 * n, 256):
        pivot = np.partition(d, n - 1)[n - 1]
        keep = np.nonzero(d <= pivot)[0]
        return keep[np.lexsort((ids[keep], d[keep]))[:n]]
    return np.lexsort((ids, d))[:n]


def nearest_pos(metric: str, V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``seq_dists(metric, V[:, None], C[None]).argmin(axis=1)`` (the
    FIRST minimum, NaN sorted last as in pq_encode_np) without the
    mesh: seq_nearest's pairs cut to one per row by (dist, position)."""
    i, j, d = seq_nearest(metric, V, C, 1)
    return j[local_topk_flat(i, j, d, 1)]


def nearest_topk_arrays(metric: str, qids, Q, V, ids_b, L: int):
    """``(query_id, id, dist)`` of each query's exact top-L rows of
    ``V`` by (dist, id), grouped by query POSITION (duplicate query ids
    stay apart): the exact-KNN and SQ8 shortlist kernels."""
    i, j, d = seq_nearest(metric, Q, V, L)
    keep = local_topk_flat(i, ids_b[j], d, L)
    return qids[i[keep]], ids_b[j[keep]], d[keep]


def mesh_topk_arrays(D, ids_b, qids, L: int):
    """Per-column exact top-L of an (n_rows, n_queries) distance mesh
    by (dist, id) as flat ``(query_id, id, dist)`` arrays (the ADC scan
    kernel), column by column: a flat lexsort over the whole mesh is
    the cost this avoids."""
    out_q, out_i, out_d = [], [], []
    for j in range(D.shape[1]):
        rows = topn(ids_b, D[:, j], L)
        out_q.append(np.full(len(rows), qids[j], dtype=np.int64))
        out_i.append(ids_b[rows])
        out_d.append(D[rows, j])
    return (
        np.concatenate(out_q),
        np.concatenate(out_i),
        np.concatenate(out_d),
    )


def scan_topk(corpus: DataFrame, qrows: list, scorer, dist_col: str,
              metric: str, truth_k: int | None = None):
    """The one corpus-scan driver of the Arrow search kernels (IVF, PQ,
    IVFADC, SQ8 and exact KNN): one ``mapInPandas`` over
    ``corpus.select("id", "vec")`` emitting ``(query_id, id,
    dist_col)`` rows, in the local-top-k-then-merge shape of
    distributed top-k search (every consumer ends in a global topk).

    ``scorer(qrows)`` builds the per-batch kernel from the sorted,
    non-empty query batch (model reads happen there, on the driver,
    once); the kernel maps a decoded batch ``(V float64[n, D], ids)``
    to flat ``(query_id, id, dist)`` arrays already cut to their exact
    local top-L under the (dist, id) order — ``local_topk_flat`` for
    flat scorers, ``nearest_topk_arrays`` for seq_dists scorers,
    ``mesh_topk_arrays`` for other meshes. This driver
    owns the rest: sort the batch, answer an empty batch with a
    well-formed empty frame, skip empty Arrow batches, decode V once.

    ``truth_k``: each batch also emits the exact-KNN local top-truth_k
    rows (exact_knn.exact_local_topk_kernel under ``metric``) from the
    SAME decoded V, and the return value becomes
    recall.split_fused_pred_truth's ``(approx, truth)`` pair — one
    corpus scan feeds both the pred and the truth chain."""
    from vector_search_go_spark.operators.exact_knn import exact_local_topk_kernel
    from vector_search_go_spark.operators.recall import split_fused_pred_truth

    spark = corpus.sparkSession
    schema = f"query_id long, id long, {dist_col} double"
    qrows = sorted(qrows, key=lambda r: r["query_id"])
    if not qrows:
        empty = spark.createDataFrame([], schema)
        if truth_k is None:
            return empty
        return empty, spark.createDataFrame(
            [], "query_id long, id long, dist double, rn int"
        )
    kernels = [(scorer(qrows), False)]
    if truth_k is not None:
        kernels.insert(0, (exact_local_topk_kernel(qrows, metric, truth_k), True))
        schema += ", _truth boolean"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            ids_b = pdf["id"].to_numpy()
            for kernel, is_truth in kernels:
                q_o, i_o, d_o = kernel(V, ids_b)
                if len(q_o) == 0:
                    continue
                out = {"query_id": q_o, "id": i_o, dist_col: d_o}
                if truth_k is not None:
                    out["_truth"] = np.full(len(q_o), is_truth)
                yield pd.DataFrame(out)

    scanned = corpus.select("id", "vec").mapInPandas(gen, schema)
    if truth_k is None:
        return scanned
    return split_fused_pred_truth(scanned, k=truth_k, dist_col=dist_col)


def query_matrix(qrows) -> tuple[np.ndarray, np.ndarray]:
    """(query ids int64[n], query matrix float64[n, D]) of a collected
    (query_id, qvec) batch, in row order."""
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["qvec"]) for r in qrows], dtype=np.float64)
    return qids, Q


def fanin_query_scorer(queries: DataFrame, metric: str,
                       qid_col: str = "query_id", qvec_col: str = "qvec",
                       local_topk: int | None = None,
                       qrows: list | None = None,
                       qids_by: tuple[str, dict] | None = None):
    """Fan-in candidate scorer for LSH search: consumes rows
    ``(id, qids array, vec)`` — one row per candidate CORPUS vector with
    the list of query ids it must be scored against — and emits
    ``(query_id, id, dist)`` pairs. ``qids_by=(col, {key: [query ids]})``
    drops the ``qids`` column: a row's list is the map's entry for its
    ``col`` value, and the driver-built map rides the closure (the
    point lookups; a broadcast map table would cost a job per call).

    Why this shape: the pairwise scorer joins each candidate pair to
    BOTH vectors, so a corpus vector hit by q queries crosses the
    Arrow boundary q times and every pair row carries a duplicated
    qvec. At high dims that transfer dominates the search (measured at
    the 60k x 784-d baseline shape, 100 queries: 39 s -> 13 s warm,
    84 s -> 16 s cold).
    Here the query matrix rides in the closure (queries are the small,
    broadcastable side by assumption — same bound as broadcast_queries)
    and each candidate corpus vector transfers exactly once.

    Distances are functions.metrics.seq_dists over the aligned
    (query, corpus) pairs — metric_dist's fold, bit for bit.

    ``local_topk=L`` pre-reduces each emitted Arrow batch to its EXACT
    local top-L pairs per query under the (dist, id) order. Safe for
    every downstream ``[threshold filter →] topk_per_group`` pipeline
    whose net rank cutoff is ≤ L: top-L is selection-monotone across
    any partition of the pair set (the global winners are winners of
    the per-batch winners) and a dist-threshold only removes a suffix
    of the order — so results are identical while only |queries| x L
    rows per batch reach the shuffle instead of every candidate pair.
    Distances are never approximated here; this is pure row
    reduction."""
    check_metric(metric)
    rows = (
        qrows
        if qrows is not None
        else queries.select(qid_col, qvec_col).collect()
    )
    Q = np.array([list(r[qvec_col]) for r in rows], dtype=np.float64)
    qpos = {r[qid_col]: i for i, r in enumerate(rows)}

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            if qids_by is None:
                qlists = pdf["qids"].tolist()
            else:
                qlists = [qids_by[1][key] for key in pdf[qids_by[0]].tolist()]
            lens = np.array([len(l) for l in qlists], dtype=np.int64)
            flat_qids = [q for lst in qlists for q in lst]
            qidx = np.array([qpos[q] for q in flat_qids], dtype=np.int64)
            rep = np.repeat(np.arange(len(pdf)), lens)
            n_pairs = len(rep)
            dist = np.empty(n_pairs)
            # Chunk the pair dimension: the gathered (A, B) operand
            # pair is n_pairs x dims doubles EACH — at high fan-in
            # (large query batches) materializing it whole is GBs per
            # Arrow batch and the copy, not the FLOPs, dominates.
            # 8192 x 784-d = ~51 MB per operand per chunk.
            chunk = 8192
            for s0 in range(0, n_pairs, chunk):
                sl = slice(s0, min(s0 + chunk, n_pairs))
                dist[sl] = seq_dists(metric, Q[qidx[sl]], V[rep[sl]])
            pair_ids = np.asarray(pdf["id"])[rep]
            if (
                local_topk is not None
                and n_pairs > local_topk
                and np.issubdtype(np.asarray(qidx).dtype, np.number)
                and np.issubdtype(pair_ids.dtype, np.number)
            ):
                keep = local_topk_flat(qidx, pair_ids, dist, local_topk)
                yield pd.DataFrame(
                    {
                        "query_id": [flat_qids[i] for i in keep],
                        "id": pair_ids[keep],
                        "dist": dist[keep],
                    }
                )
                continue
            yield pd.DataFrame(
                {
                    "query_id": flat_qids,
                    "id": pair_ids,
                    "dist": dist,
                }
            )

    return score


def pairwise_dist_udf(metric: str):
    """Arrow-batched row-pair distance (both vectors in the row): the
    vectorized twin of functions.metrics.metric_dist (seq_dists over
    the aligned pairs, so each scalar result is bit-identical to the
    fold expression). Used where candidates are already joined to both
    vectors (LSH candidate scoring) and the per-pair fold would be
    interpreted lambda dispatch."""
    from pyspark.sql.functions import pandas_udf

    check_metric(metric)

    @pandas_udf("double")
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        return pd.Series(seq_dists(metric, A, B))

    return dist
