from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_search_go_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def big_id_scan_stores(tmp_path_factory):
    """Scan stores (50 x 8, written with pyarrow) whose ids start at
    2**53 + 1, where a float64 id column can no longer hold every id:
    ``{base}/{metric}`` for l2 and cosine, and ``{base}/sharded`` (l2,
    two shards split by id parity). Returns (base, ids, X)."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def meta(path, sub, payload):
        os.makedirs(os.path.join(path, sub), exist_ok=True)
        with open(os.path.join(path, sub, "part-00000.json"), "w") as fh:
            fh.write(json.dumps({"meta_json": json.dumps(payload)}) + "\n")

    def scan_store(path, ids, X, metric):
        os.makedirs(os.path.join(path, "vectors"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "vec": pa.array(X.tolist(), pa.list_(pa.float64())),
                }
            ),
            os.path.join(path, "vectors", "part-00000.parquet"),
        )
        meta(path, "store_meta", {"family": "scan", "metric": metric, "dims": X.shape[1]})

    base = str(tmp_path_factory.mktemp("big_id_scan"))
    X = np.random.default_rng(0).standard_normal((50, 8))
    ids = np.arange(50, dtype=np.int64) + 2**53 + 1
    for metric in ("l2", "cosine"):
        scan_store(os.path.join(base, metric), ids, X, metric)
    meta(os.path.join(base, "sharded"), "shards_meta",
         {"family": "scan", "n_shards": 2, "metric": "l2"})
    for s in range(2):
        m = np.arange(50) % 2 == s
        scan_store(os.path.join(base, "sharded", f"shard={s}"), ids[m], X[m], "l2")
    return base, ids, X
