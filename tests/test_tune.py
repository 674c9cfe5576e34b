"""Index-advisor report (operators.tune): invariants + determinism +
the two regimes the SCALE.md angular probes measured — a corpus with
real cluster structure recommends a pruning index; a near-uniform one
falls back to the exact scan."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.operators.tune import advisor_report


def _mk(spark, X, n_queries=8):
    n = len(X)
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(n)],
        "id bigint, vec array<double>",
    )
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(0, n, n // n_queries)][:n_queries],
        "query_id bigint, qvec array<double>",
    )
    return corpus, queries


def _report(spark, X, **kw):
    corpus, queries = _mk(spark, X)
    return advisor_report(spark, corpus, queries, metric="cosine", k=5, **kw)


def test_advisor_invariants_and_determinism(spark):
    rng = np.random.default_rng(5)
    X = rng.standard_normal((400, 16))
    rows = sorted(map(tuple, _report(spark, X).collect()))
    again = sorted(map(tuple, _report(spark, X).collect()))
    assert rows == again  # seeded end to end

    by_family = {}
    for fam, cfg, rec, frac, in_band, recd in rows:
        by_family.setdefault(fam, []).append((cfg, rec, frac, in_band, recd))
        assert 0.0 <= rec <= 1.0 and 0.0 < frac <= 1.0
        assert in_band == (rec >= 0.85)
    assert by_family["exact"] == [("scan", 1.0, 1.0, True, False)] or (
        by_family["exact"][0][:4] == ("scan", 1.0, 1.0, True)
    )
    recommended = [r for r in rows if r[5]]
    assert len(recommended) == 1
    best = recommended[0]
    assert best[4]  # recommended is in band
    in_band_fracs = [r[3] for r in rows if r[4]]
    assert best[3] == min(in_band_fracs)  # and the cheapest such


def test_advisor_picks_index_on_structured_scan_on_uniform(spark):
    """The measured scan-vs-index decision: 8 tight clusters on the
    sphere -> IVF with cells≈clusters is in-band at a small candidate
    fraction and beats the scan; pure gaussian noise in 32-d with a
    tight threshold -> no candidate index holds the band and the exact
    scan is recommended (the SCALE.md angular-probe conclusion, as an
    operator)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 50.0
    X = centers[rng.integers(0, 8, size=480)] + rng.standard_normal((480, 16))
    rep = {
        (r["family"], r["config"]): r
        for r in _report(
            spark, X, ivf_configs=((8, 1), (8, 2)), lsh_configs=((4, 30),)
        ).collect()
    }
    rec = [r for r in rep.values() if r["recommended"]]
    assert rec[0]["family"] != "exact"
    assert rec[0]["cand_frac"] < 0.5
    ivf2 = rep[("ivf", "cells=8,nprobe=2")]
    assert ivf2["in_band"] and ivf2["cand_frac"] < 0.3

    Xu = rng.standard_normal((400, 32))  # near-uniform: nothing concentrates
    rep_u = _report(
        spark,
        Xu,
        ivf_configs=((64, 1),),  # hard pruning, ~1.6% candidates
        lsh_configs=((1, 10),),  # single tree, one small bucket
        recall_band=0.9,
    ).collect()
    rec_u = [r for r in rep_u if r["recommended"]]
    assert rec_u[0]["family"] == "exact"
    for r in rep_u:
        if r["family"] != "exact":  # the pruned configs all miss the band
            assert not r["in_band"], r


def test_advisor_max_useful_frac_gates_weakly_pruning_index(spark):
    """The GloVe-shape break-even lesson as a gate: an index that is
    in-band by recall but prunes less than the gate requires must NOT
    be recommended — the scan wins in wall-clock at weak pruning (the
    SCALE.md GloVe row: frac 0.447 in-band, yet scan 13x faster). A
    near-zero gate forces every index out; the scan is always exempt.
    The corpus is measured once (advisor_report's defaults) and the
    three gates are decided over the same measurement."""
    from vector_search_go_spark.operators.tune import (
        _advisor_decide,
        _advisor_measure,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 16)) * 4.0
    X = centers[rng.integers(0, 8, size=400)] + 0.05 * rng.standard_normal(
        (400, 16)
    )
    corpus, queries = _mk(spark, X)
    measured = _advisor_measure(
        spark, corpus, queries, metric="cosine", k=5, threshold=None,
        eps=0.05, lsh_configs=((8, 50), (16, 50)),
        ivf_configs=((16, 2), (16, 4)), seed=42, sample_size=20_000,
    )

    def decide(max_useful_frac=None):
        return _advisor_decide(measured, 0.85, max_useful_frac)

    ungated = decide()
    best_free = [r for r in ungated if r["recommended"]][0]
    assert best_free["family"] != "exact"  # clustered: an index wins

    rows = decide(max_useful_frac=1e-4)
    best = [r for r in rows if r["recommended"]]
    assert len(best) == 1 and best[0]["family"] == "exact"
    # reporting is unchanged — in_band still reflects recall only
    assert any(r["in_band"] and r["family"] != "exact" for r in rows)

    # a gate the winning config satisfies leaves the decision alone
    same = decide(max_useful_frac=float(best_free["cand_frac"]))
    keep = [r for r in same if r["recommended"]][0]
    assert (keep["family"], keep["config"]) == (
        best_free["family"],
        best_free["config"],
    )


def test_serving_batch_advisor_measures_and_persists(spark, tmp_path):
    """The serving-batch advisor (r8, VERDICT r7 item 8): measured
    per-batch ms/q rows over the store's OWN reader, argmin
    recommendation (ties to the smaller batch), and a persist that
    MERGES into store_meta without clobbering the saved family/metric
    (the maintain_ivfpq retune contract)."""
    import numpy as np

    from vector_search_go_spark.operators.exact_knn import scan_save
    from vector_search_go_spark.operators.tune import serving_batch_advisor
    from vector_search_go_spark.serve.local_reader import _read_store_meta
    from vector_search_go_spark.serve.sharded import open_reader

    rng = np.random.default_rng(17)
    X = rng.standard_normal((800, 16))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "id bigint, vec array<double>",
    )
    path = str(tmp_path / "scan")
    scan_save(spark, corpus, path, metric="l2")
    rep = serving_batch_advisor(
        spark, path, X[:64], k=5, batch_sizes=(1, 8), persist=True
    )
    assert [b for b, _ in rep["rows"]] == [1, 8]
    assert all(m > 0 for _, m in rep["rows"])
    assert rep["recommended_batch"] in (1, 8)
    meta = _read_store_meta(path)
    assert meta["recommended_batch"] == rep["recommended_batch"]
    assert meta["family"] == "scan" and meta["metric"] == "l2"  # merged
    assert set(meta["batch_ms_per_query"]) == {"1", "8"}
    # too-small probe sample is refused, not silently mismeasured
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probe queries"):
        serving_batch_advisor(spark, path, X[:8], batch_sizes=(1, 8))
    # open_reader routes families: the scan store opens as a scan reader
    r = open_reader(path)
    assert type(r).__name__ == "LocalScanReader"


def test_recall_frontier_advisor_measures_and_persists(spark, tmp_path):
    """The (nprobe, shortlist) frontier advisor on a small IVFADC
    store: full grid measured, recalls in range and shortlist-monotone
    at fixed nprobe, the recommendation honors the target gate, and
    persist=True lands recommended_nprobe/recommended_shortlist plus
    the frontier table in store_meta (the maintain_ivfpq retune
    contract)."""
    import json
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook
    from vector_search_go_spark.operators.tune import recall_frontier_advisor

    N, DIMS = 900, 64
    rng = np.random.default_rng(31)
    X = rng.standard_normal((N, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)],
        "id bigint, vec array<double>",
    )
    cents = corpus.filter(F.col("id") % 90 == 0).select(
        (F.col("id") / 90).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    emb_like = corpus.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    path = str(tmp_path / "ivfpq")
    # raw encoding: this test pins ADVISOR mechanics against a store
    # whose codebook (pq_codebook — raw-sampled) matches its encoding;
    # under the residual default a raw-sampled codebook would quantize
    # residual space badly and the exhaustive-probe exactness below
    # would not hold at shortlist 60
    ivfpq_save(
        spark, corpus, cents, pq_codebook(emb_like), path, metric="l2",
        encoding="raw",
    )

    rep = recall_frontier_advisor(
        spark, path, k=5, n_queries=6, nprobes=(2, 10),
        shortlists=(10, 60), target_recall=0.8, persist=True,
    )
    rows = {(a, b): (r, ms) for a, b, r, ms in rep["rows"]}
    assert len(rows) == 4
    assert all(0.0 <= r <= 1.0 and ms > 0 for r, ms in rows.values())
    # shortlist monotonicity at fixed nprobe (exact-rerank theorem)
    assert rows[(2, 60)][0] >= rows[(2, 10)][0]
    assert rows[(10, 60)][0] >= rows[(10, 10)][0]
    # exhaustive probing of every cell at full shortlist is exact
    assert rows[(10, 60)][0] == 1.0
    rec = (rep["recommended_nprobe"], rep["recommended_shortlist"])
    assert rec in rows
    if any(r >= 0.8 for r, _ in rows.values()):
        assert rep["target_met"] and rows[rec][0] >= 0.8

    from vector_search_go_spark.serve.local_reader import _read_store_meta

    meta = _read_store_meta(path)
    assert meta["recommended_nprobe"] == rep["recommended_nprobe"]
    assert meta["recommended_shortlist"] == rep["recommended_shortlist"]
    assert len(meta["recall_frontier"]) == 4

    # a scan-family store is refused: the knob pair is IVFADC-only
    import pytest as _pytest

    scan_path = str(tmp_path / "scan")
    corpus.write.parquet(f"{scan_path}/vectors")
    with _pytest.raises(ValueError, match="family"):
        recall_frontier_advisor(spark, scan_path)


def test_frontier_pick_latency_budget_mode():
    """frontier_pick(target_ms=...) — the r10 latency-budget inverse
    (VERDICT r9 item 4), pure-function checked on a fixed grid."""
    from vector_search_go_spark.operators.tune import frontier_pick

    rows = [
        (2, 20, 0.40, 5.0),
        (2, 100, 0.70, 9.0),
        (8, 20, 0.55, 12.0),
        (8, 100, 0.95, 30.0),
    ]
    # roomy budget: max-recall point wins, latency met
    p = frontier_pick(rows, target_ms=50.0)
    assert (p["recommended_nprobe"], p["recommended_shortlist"]) == (8, 100)
    assert p["latency_met"] and p["target_met"] and p["target_ms"] == 50.0
    # tight budget: best recall among points within it
    p = frontier_pick(rows, target_ms=10.0)
    assert (p["recommended_nprobe"], p["recommended_shortlist"]) == (2, 100)
    assert p["latency_met"] and not p["target_met"]  # 0.70 < 0.9 — visible
    # impossible budget: min-latency fallback, latency_met=False
    p = frontier_pick(rows, target_ms=1.0)
    assert (p["recommended_nprobe"], p["recommended_shortlist"]) == (2, 20)
    assert not p["latency_met"]
    # recall-tie within budget resolves to the LOWER latency
    tied = rows + [(16, 100, 0.95, 40.0)]
    p = frontier_pick(tied, target_ms=60.0)
    assert (p["recommended_nprobe"], p["recommended_shortlist"]) == (8, 100)
    # recall-target mode unchanged: cheapest point meeting the target
    p = frontier_pick(rows, target_recall=0.9)
    assert (p["recommended_nprobe"], p["recommended_shortlist"]) == (8, 100)
    assert p["target_met"] and "target_ms" not in p


def test_recall_frontier_advisor_target_ms(spark, tmp_path):
    """target_ms= through the measuring advisor: the recommendation is
    a grid point, and a huge budget admits everything so the pick is
    the grid's max-recall row."""
    import numpy as np
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.pq import ivfpq_save, pq_codebook
    from vector_search_go_spark.operators.tune import recall_frontier_advisor

    N, DIMS = 400, 64
    rng = np.random.default_rng(37)
    X = rng.standard_normal((N, DIMS))
    corpus = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(N)],
        "id bigint, vec array<double>",
    )
    cents = corpus.filter(F.col("id") % 100 == 0).select(
        (F.col("id") / 100).cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    emb_like = corpus.select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    path = str(tmp_path / "ivfpq_ms")
    ivfpq_save(spark, corpus, cents, pq_codebook(emb_like), path, metric="l2")
    rep = recall_frontier_advisor(
        spark, path, k=5, n_queries=4, nprobes=(1, 4), shortlists=(10, 40),
        target_ms=1e9,
    )
    rows = {(a, b): (r, ms) for a, b, r, ms in rep["rows"]}
    rec = (rep["recommended_nprobe"], rep["recommended_shortlist"])
    assert rec in rows
    assert rep["latency_met"]
    assert rows[rec][0] == max(r for r, _ in rows.values())
