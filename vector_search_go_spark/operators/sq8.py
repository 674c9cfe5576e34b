"""Scalar quantization (SQ8): 8-bit-per-dimension compressed vectors.

The third compression point on the engine's accuracy/size curve —
raw float32 (exact_knn) > SQ8 (this, 4x smaller, near-exact) > PQ
(operators/pq.py, 32x smaller, coarser). Each dimension is affinely
mapped to an integer code in [0, 255] using per-dimension corpus
min/max; search scans dequantized codes (midpoint reconstruction
``min + (code + 0.5) * scale``) for a shortlist and reranks it with
exact L2 — the standard SQ recipe (e.g. FAISS ScalarQuantizer).

Everything is seed-free and engine-portable: min/max are exact (no
float-sum order issues), and encode/dequantize use only IEEE-exact
sub/div/mul/floor, so the DuckDB oracle matches bit-for-bit.

At 100 TB: the stats pass is one map-side-combinable per-dim min/max
aggregation; its 64-value result broadcasts; encoding and approximate
scan are pure map stages over the corpus. Nothing shuffles but the
k-sized results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import l2_dist
from vector_search_go_spark.operators.topk import topk_per_group

SQ_LEVELS = 256  # codes per dimension (8 bits)
SQ_SHORTLIST = 50  # approx shortlist reranked exactly


def sq8_stats(corpus: DataFrame, dim: int) -> DataFrame:
    """corpus(id, vec) -> single row (mins, scales): per-dimension min
    and (max - min) / SQ_LEVELS, as double arrays in dimension order."""
    per_dim = (
        corpus.select(F.posexplode("vec").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").cast("double").alias("mn"), F.max("x").cast("double").alias("mx"))
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))),
            lambda s: (s["mx"] - s["mn"]) / F.lit(float(SQ_LEVELS)),
        ).alias("scales"),
    )


def _clamp_code(v: Column) -> Column:
    return F.least(F.greatest(v, F.lit(0)), F.lit(SQ_LEVELS - 1))


def sq8_encode(corpus: DataFrame, stats: DataFrame, dim: int) -> DataFrame:
    """corpus(id, vec) -> (id, codes array<int>): per-dim affine code
    floor((x - min) / scale) clamped to [0, 255]; constant dimensions
    (scale == 0) encode to 0."""
    enc = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.when(F.element_at("scales", i) == 0.0, F.lit(0)).otherwise(
            _clamp_code(
                F.floor(
                    (
                        F.element_at("vec", i).cast("double")
                        - F.element_at("mins", i)
                    )
                    / F.element_at("scales", i)
                ).cast("int")
            )
        ),
    )
    return corpus.crossJoin(F.broadcast(stats)).select("id", enc.alias("codes"))


def sq8_dequant(codes: Column, dim: int) -> Column:
    """codes -> reconstructed double vector: min + (code + 0.5) * scale
    (bucket midpoint). Expects mins/scales columns in scope."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.element_at("mins", i)
        + (F.element_at(codes, i).cast("double") + F.lit(0.5))
        * F.element_at("scales", i),
    )


def sq8_search(
    queries: DataFrame,
    codes: DataFrame,
    stats: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    shortlist: int = SQ_SHORTLIST,
    impl: str = "arrow",
    vectors: DataFrame | None = None,
    truth_fn=None,
    truth_k: int = 10,
    qrows: list | None = None,
) -> DataFrame:
    """queries(query_id, qvec) -> (query_id, id, dist, rn): approximate
    L2 against dequantized codes for a shortlist, exact rerank for the
    final top-k.

    ``impl='arrow'`` (default) runs the compressed-domain scan as one
    mapInPandas kernel per code batch — dequantize
    (``min + (code+0.5)*scale``, the same two IEEE ops per element) and
    the batch x query distance matrix with sequential per-dimension
    adds, bit-identical to the ``impl='expr'`` fold (same pattern as
    operators.exact_knn; pinned by the sq8 oracle hashes).

    ``vectors`` (arrow impl): pass the raw (id, vec) corpus instead of
    ``codes`` and the kernel encodes each batch itself with
    sq8_encode_np — the parity-pinned numpy twin of the sq8_encode
    Catalyst expression — fusing encode + dequantized scan into the one
    Arrow stage (guide §4.2) instead of an interpreted 256-lambda
    projection + broadcast feeding it.

    ``truth_fn`` (exact_knn.exact_local_topk_kernel, arrow impl with
    ``vectors`` only): each batch also emits the exact-KNN local
    top-``truth_k`` rows from the SAME decoded V matrix, and the
    return value becomes a (search_result, truth) pair split behind
    one lazy localCheckpoint — the recall-vs-exact entry's truth chain
    rides the pred chain's corpus scan (guide §8.4)."""
    if truth_fn is not None and (impl != "arrow" or vectors is None):
        raise ValueError("truth_fn needs impl='arrow' with vectors=")
    if impl == "arrow":
        import numpy as np
        import pandas as pd

        from vector_search_go_spark.operators.argmin import _seq_sq_l2

        srow = stats.collect()[0]
        mins = np.array(list(srow["mins"]), dtype=np.float64)
        scales = np.array(list(srow["scales"]), dtype=np.float64)
        if qrows is None:
            qrows = queries.select("query_id", "qvec").collect()
        qrows = sorted(qrows, key=lambda r: r["query_id"])
        if not qrows:
            # empty query batch: Q would be 1-D and the kernel slices
            # invalid — feed an empty approx frame to the shared rerank
            # (and, with truth_fn, pair it with an empty truth table)
            spark = queries.sparkSession
            approx = spark.createDataFrame(
                [], "query_id long, id long, approx_dist double"
            )
            pred = _sq8_finish(approx, queries, corpus, k, shortlist)
            if truth_fn is None:
                return pred
            return pred, spark.createDataFrame(
                [], "query_id long, id long, dist double, rn int"
            )
        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        Q = np.array([list(r["qvec"]) for r in qrows], dtype=np.float64)

        fused = vectors is not None
        out_schema = "query_id long, id long, approx_dist double" + (
            ", _truth boolean" if truth_fn is not None else ""
        )

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if fused:
                    V = np.array(pdf["vec"].tolist(), dtype=np.float64)
                    if truth_fn is not None:
                        tq, ti, td = truth_fn(V, pdf["id"].to_numpy())
                        if len(tq):
                            yield pd.DataFrame(
                                {
                                    "query_id": tq,
                                    "id": ti,
                                    "approx_dist": td,
                                    "_truth": np.ones(len(tq), dtype=bool),
                                }
                            )
                    C = sq8_encode_np(V, mins, scales).astype(np.float64)
                else:
                    C = np.array(pdf["codes"].tolist(), dtype=np.float64)
                xhat = mins[None, :] + (C + 0.5) * scales[None, :]
                D = np.sqrt(_seq_sq_l2(xhat, Q))
                n_v, n_q = D.shape
                ids_b = pdf["id"].to_numpy()
                if n_v > shortlist and n_q > 0:
                    # exact local top-shortlist per query
                    # (operators.argmin.local_topk_mesh): downstream is
                    # topk(shortlist) -> rerank -> topk(k), so emitting
                    # each batch's winners under the same
                    # (approx_dist, id) order is result-identical and
                    # |queries| x shortlist rows reach the shuffle
                    # instead of the full batch x query mesh
                    from vector_search_go_spark.operators.argmin import (
                        mesh_topk_arrays,
                    )

                    q_o, i_o, d_o = mesh_topk_arrays(D, ids_b, qids, shortlist)
                else:
                    q_o = np.repeat(qids[None, :], n_v, axis=0).ravel()
                    i_o = np.repeat(ids_b, n_q)
                    d_o = D.ravel()
                out = {"query_id": q_o, "id": i_o, "approx_dist": d_o}
                if truth_fn is not None:
                    out["_truth"] = np.zeros(len(q_o), dtype=bool)
                yield pd.DataFrame(out)

        approx = (
            vectors.select("id", "vec") if fused else codes
        ).mapInPandas(gen, out_schema)
        if truth_fn is not None:
            from vector_search_go_spark.operators.recall import (
                split_fused_pred_truth,
            )

            approx, truth = split_fused_pred_truth(approx, k=truth_k)
            return _sq8_finish(approx, queries, corpus, k, shortlist), truth
    else:
        approx = (
            codes.crossJoin(F.broadcast(stats))
            .withColumn("xhat", sq8_dequant(F.col("codes"), dim))
            .crossJoin(F.broadcast(queries))
            .withColumn("approx_dist", l2_dist(F.col("qvec"), F.col("xhat")))
            .select("query_id", "id", "approx_dist")
        )
    return _sq8_finish(approx, queries, corpus, k, shortlist)


def _sq8_finish(
    approx: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int,
) -> DataFrame:
    """Shared tail of sq8_search: topk(shortlist) over the approximate
    distances, exact rerank of the shortlist, topk(k)."""
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


# ---- SQ8 rerank tier for IVFADC stores (VERDICT r10 item 4) ----
#
# At 100M rows the exact rerank reads full float vectors for every
# shortlist row — at the measured exact-set budgets (SCALE.md: frac
# ~0.01 of the corpus) that IO is the whole latency. The standard
# two-stage refinement (FAISS IndexRefine / SQ8 tier): score the ADC
# shortlist against 8-bit scalar-quantized vectors first (8x smaller
# rows, pinnable at scales where floats are not), keep a small top-K'
# by (sq8_dist, id), and exact-rerank only those. The numpy kernels
# below are fold-order-identical to sq8_search's arrow path, so the
# serving tier, the Spark DataFrame path, and the DuckDB oracle agree
# bit-for-bit.


def sq8_encode_np(V, mins, scales):
    """float64 rows -> uint8 codes: floor((x - min) / scale) clamped to
    [0, 255]; scale == 0 dims encode 0. Same IEEE sub/div/floor as the
    sq8_encode Catalyst expression (pinned by parity tests)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        C = np.floor((V - mins[None, :]) / scales[None, :])
    C = np.where(scales[None, :] == 0.0, 0.0, C)
    return np.clip(C, 0, SQ_LEVELS - 1).astype(np.uint8)


def sq8_dists_np(q, mins, scales, C):
    """uint8 codes -> L2 distance to ``q`` of the midpoint
    reconstruction min + (code + 0.5) * scale — identical float ops
    and per-dimension fold order as sq8_search's arrow kernel."""
    from vector_search_go_spark.operators.argmin import _seq_sq_l2

    xhat = mins[None, :] + (C.astype(np.float64) + 0.5) * scales[None, :]
    return np.sqrt(_seq_sq_l2(xhat, q[None, :])[:, 0])


def sq8_encode_bytes_udf(mins, scales):
    """Arrow kernel: vec -> packed uint8 codes as BINARY (one byte per
    dimension on disk — the tier's 8x size argument; array<int> parquet
    would spend several bytes per code). Stats ride the closure."""
    from pyspark.sql.functions import pandas_udf

    mins = np.asarray(mins, dtype=np.float64)
    scales = np.asarray(scales, dtype=np.float64)

    @pandas_udf("binary")
    def enc(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        C = sq8_encode_np(V, mins, scales)
        return pd.Series([c.tobytes() for c in C])

    return enc


def sq8_refine(
    cands: DataFrame,
    queries: DataFrame,
    codes: DataFrame,
    stats: DataFrame,
    dim: int,
    keep: int,
) -> DataFrame:
    """(query_id, id) ADC-shortlist pairs -> the top-``keep`` per query
    by (sq8_dist, id): the compressed-domain refinement between ADC
    shortlist and exact rerank. ``cands`` is |queries| x shortlist rows
    (the broadcast side by contract); ``codes`` is the corpus-wide
    (id, codes array<int>) table, so the join prunes to shortlist ids
    before any dequantization happens."""
    scored = (
        F.broadcast(cands.select("query_id", "id"))
        .join(codes, on="id")
        .crossJoin(F.broadcast(stats))
        .withColumn("xhat", sq8_dequant(F.col("codes"), dim))
        .join(F.broadcast(queries.select("query_id", "qvec")), on="query_id")
        .withColumn("sq8_dist", l2_dist(F.col("qvec"), F.col("xhat")))
    )
    return topk_per_group(
        scored, ["query_id"], "sq8_dist", keep, tiebreak_cols=["id"],
        rank_name="_s8",
    ).select("query_id", "id", "sq8_dist")
