"""Coarse-cell-count scaling rule + clustered-corpus recall receipts
(VERDICT r9 items 2 and 3).

Reuses probe_100m's deterministic block-seeded generator, fan-in exact
ground truth, and sharded serving; everything here is measurement
driver code, not engine code.

  --kcells [n dims]      build 10M stores at k_cells in {1024, 4096,
                         16384} (single shard; the knob under test is
                         the coarse model, not the shard split) and
                         measure recall@10 + ms/q at MATCHED PROBED
                         MASS (nprobe = k_cells / 128, i.e. 1/128 of
                         cells each) and at the production floor
                         shortlist as well as 4x it. Prints the
                         SCALE.md table rows + build times.
  --clustered [n dims]   the contrast receipt: plant 4096 centers at
                         sigma 0.25 (--centers/--sigma geometry of
                         probe_100m), build at the k_cells winner, and
                         measure the floor budget + the measured
                         shortlist recommendation. On a corpus whose
                         true neighbors have contrast, the floor
                         budget should serve high recall and the
                         measured shortlist frac should land small —
                         turning SCALE.md's "the trade is the data's"
                         reading into a number.

Run AFTER the residual-encoding change: stores build with the default
encoding='residual'.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

import tools.probe_100m as p100

BASE = "/tmp/kcells"


def _queries(n: int, dims: int, n_q: int = 100):
    rng = np.random.default_rng(p100.SEED + 1)
    picks = rng.choice(n, size=n_q + 20, replace=False)
    qids = [int(i) for i in picks[20:]]
    Q = np.stack([p100.vec_of(i, n, dims) for i in qids])
    return qids, Q


def _measure(path: str, n: int, dims: int, configs, truth, qids, Q, k=10):
    from vector_search_go_spark.serve.sharded import ShardedReader

    reader = ShardedReader(path, processes=True, preload_codes=True)
    rows = []
    try:
        reader.search(Q[0], k=k, nprobe=int(configs[0][0]),
                      shortlist=int(configs[0][1]))  # warm
        for nprobe, shortlist, nq in configs:
            lats, recs = [], []
            for qi in range(min(nq, len(qids))):
                t0 = time.time()
                top = reader.search(
                    Q[qi], k=k, nprobe=int(nprobe), shortlist=int(shortlist)
                )
                lats.append((time.time() - t0) * 1000)
                got = set(int(i) for i in top["id"][:k])
                recs.append(len(got & set(truth[qids[qi]])) / k)
            lats.sort()
            rows.append(
                (nprobe, shortlist, float(np.mean(recs)),
                 float(lats[len(lats) // 2]), len(recs))
            )
    finally:
        reader.close()
    return rows


def kcells(n: int = 10_000_000, dims: int = 64, *grid: int) -> None:
    from vector_search_go_spark.session import get_spark

    os.makedirs(BASE, exist_ok=True)
    grid = tuple(int(g) for g in grid) or (1024, 4096, 16384)
    build_s: dict[int, float] = {}
    for kc in grid:
        path = f"{BASE}/k{kc}"
        if os.path.exists(f"{path}/shards_meta"):
            print(f"# k_cells={kc}: store exists, skipping build", flush=True)
            continue
        t0 = time.time()
        p100.build(n, dims, 1, kc, path)
        build_s[kc] = time.time() - t0
        print(f"# k_cells={kc} total build {build_s[kc]:.0f} s", flush=True)

    qids, Q = _queries(n, dims)
    spark = get_spark("kcells-gt")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    truth = p100._ground_truth(spark, n, dims, Q, qids, 10, f"{BASE}/gt.npz")
    print(f"# ground truth: {time.time() - t0:.0f} s", flush=True)
    spark.stop()

    for kc in grid:
        nprobe = kc // 128  # matched probed mass: 1/128 of cells
        configs = [
            (nprobe, 100, len(qids)),
            (nprobe, 400, len(qids)),
            (8, 100, len(qids)),  # fixed-nprobe row: cell-size effect alone
        ]
        rows = _measure(f"{BASE}/k{kc}", n, dims, configs, truth, qids, Q)
        for np_, sl, rec, ms, nq in rows:
            print(
                f"| kcells sweep | k_cells={kc} nprobe={np_} "
                f"shortlist={sl} | recall@10 {rec:.4f} | {ms:.1f} ms/q "
                f"median ({nq} q) | build {build_s.get(kc, 0):.0f} s |",
                flush=True,
            )


def clustered(
    n: int = 10_000_000,
    dims: int = 64,
    n_centers: int = 4096,
    k_cells: int = 1024,
    tag: str = "clustered",
) -> None:
    """Two regimes matter and both are run for the r10 receipt:
    - n_centers=4096 at 10M -> ~2.4k members/cluster, 24x the floor
      shortlist: within-cluster ordering is shortlist-bound no matter
      the encoding (true top-10 gaps sit below quantization error, and
      the WHOLE cluster competes for 100 slots).
    - n_centers=131072 -> ~76 members/cluster, UNDER the floor
      shortlist: ADC only needs to rank the own-cluster members into
      the shortlist (inter-cluster contrast ~22 vs quantization error
      ~2), exact rerank does the rest — the near-dup-family geometry
      real corpora have, where the floor budget serves."""
    from vector_search_go_spark.serve.local_reader import _read_store_meta
    from vector_search_go_spark.session import get_spark

    p100.N_CENTERS = int(n_centers)
    p100.SIGMA = 0.25
    path = f"{BASE}/{tag}"
    if not os.path.exists(f"{path}/shards_meta"):
        p100.build(n, dims, 1, k_cells, path)

    qids, Q = _queries(n, dims)
    spark = get_spark("clustered-gt")
    spark.sparkContext.setLogLevel("ERROR")
    truth = p100._ground_truth(
        spark, n, dims, Q, qids, 10, f"{BASE}/gt_{tag}.npz"
    )
    measured = _read_store_meta(path).get("recommended_shortlist")
    if measured is None:
        from vector_search_go_spark.operators.pq import adc_shortlist_probe

        probe = adc_shortlist_probe(spark, path, k=10)
        measured = probe["recommended_shortlist"]
        print(f"# shortlist probe {probe}", flush=True)
    spark.stop()

    configs = [
        (8, 100, len(qids)),       # the production floor
        (16, 100, len(qids)),
        (8, 400, len(qids)),
        (8, int(measured), min(20, len(qids))),
    ]
    rows = _measure(path, n, dims, configs, truth, qids, Q)
    for np_, sl, rec, ms, nq in rows:
        sl_tag = f"{sl} (measured)" if sl == int(measured) else sl
        print(
            f"| clustered 10M ({n_centers} centers, sigma 0.25, residual, "
            f"{k_cells} cells) | nprobe={np_} shortlist={sl_tag} | "
            f"recall@10 {rec:.4f} | {ms:.1f} ms/q median ({nq} q) |",
            flush=True,
        )


if __name__ == "__main__":
    if sys.argv[1:2] == ["--kcells"]:
        kcells(*[int(s) for s in sys.argv[2:]])
    elif sys.argv[1:2] == ["--clustered"]:
        clustered(*[int(s) for s in sys.argv[2:]])
    elif sys.argv[1:2] == ["--clustered-fine"]:
        # the cluster-size <= shortlist regime: 131072 centers (~76
        # members each at 10M). k_cells=1024 rather than the 4096 rule
        # value: the knob under test is cluster size vs shortlist, and
        # the k=4096 Lloyd costs ~51 min on this box (measured in the
        # r10 kcells sweep) for no bearing on that question.
        clustered(10_000_000, 64, 131072, 1024, tag="clustered_fine")
    else:
        print(__doc__)
        sys.exit(2)
