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

from vector_search_go_spark.functions.metrics import l2_dist, seq_dists
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
    stats: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    shortlist: int = SQ_SHORTLIST,
    truth_k: int | None = None,
    qrows: list | None = None,
):
    """queries(query_id, qvec) -> (query_id, id, dist, rn): approximate
    L2 against dequantized codes for a shortlist, exact rerank for the
    final top-k.

    Encodes and scans ``corpus`` in one Arrow stage (argmin.scan_topk,
    guide §4.2): each batch is encoded with sq8_encode_np — the numpy
    twin of the sq8_encode Catalyst expression — dequantized
    (``min + (code+0.5)*scale``, the same two IEEE ops per element) and
    scored against every query with sequential per-dimension adds, the
    fold order of l2_dist (pinned by the sq8 oracle hashes).

    ``truth_k``: the scan also feeds the exact-KNN truth chain and the
    return value becomes a (search_result, truth) pair (see scan_topk)
    — the recall-vs-exact entry's truth chain rides the pred chain's
    corpus scan (guide §8.4)."""
    from vector_search_go_spark.operators.argmin import (
        nearest_topk_arrays,
        query_matrix,
        scan_topk,
    )

    if qrows is None:
        qrows = queries.select("query_id", "qvec").collect()

    def scorer(rows):
        qids, Q = query_matrix(rows)
        srow = stats.collect()[0]
        mins = np.array(list(srow["mins"]), dtype=np.float64)
        scales = np.array(list(srow["scales"]), dtype=np.float64)

        def score(V, ids_b):
            C = sq8_encode_np(V, mins, scales).astype(np.float64)
            xhat = mins[None, :] + (C + 0.5) * scales[None, :]
            # exact local top-shortlist per query: downstream is
            # topk(shortlist) -> rerank -> topk(k)
            return nearest_topk_arrays("l2", qids, Q, xhat, ids_b, shortlist)

        return score

    approx = scan_topk(corpus, qrows, scorer, "approx_dist", "l2", truth_k)
    if truth_k is not None:
        approx, truth = approx
        return _sq8_finish(approx, queries, corpus, k, shortlist), truth
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
# below are fold-order-identical to sq8_search's scan kernel, so the
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
    and per-dimension fold order as sq8_search's scan kernel."""
    xhat = mins[None, :] + (C.astype(np.float64) + 0.5) * scales[None, :]
    return seq_dists("l2", xhat, q)


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
