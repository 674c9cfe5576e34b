"""Tests of the benchmark's own arithmetic and inputs (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from measure import tail  # noqa: E402
from spans import Tracer, covered, self_time_by_name, self_times  # noqa: E402
from sparkstats import parse_event_log  # noqa: E402


def _ann_table(tmp_path, seed):
    path = str(tmp_path / f"sf{seed}-{len(os.listdir(tmp_path))}")
    gen.write_ann_dir(path, seed, 3000, 12, 20)
    return pq.read_table(os.path.join(path, "embeddings.parquet"))


def test_same_seed_same_inputs_other_seed_differs(tmp_path):
    a, b, c = _ann_table(tmp_path, 5), _ann_table(tmp_path, 5), _ann_table(tmp_path, 6)
    assert a.equals(b)
    assert not a.equals(c)
    cent, X = gen.serve_corpus(0, 500)
    q1, i1 = gen.serve_requests(3, cent, 10, 40)
    q2, i2 = gen.serve_requests(3, cent, 10, 40)
    q3, _ = gen.serve_requests(4, cent, 10, 40)
    assert np.array_equal(q1, q2) and np.array_equal(i1, i2)
    assert not np.array_equal(q1, q3)
    assert np.array_equal(X, gen.serve_corpus(0, 500)[1])


def test_shaped_ids_pin_query_and_cell_counts(tmp_path):
    ids = gen.shaped_ids(5000, 17, 33)
    assert len(np.unique(ids)) == 5000
    assert (ids % 50 == 0).sum() == 17
    assert (ids % 7 == 3).sum() == 33
    t = _ann_table(tmp_path, 1)
    assert t.schema.field("embedding").type.value_type == "float"
    assert (t.column("vec_id").to_numpy() % 50 == 0).sum() == 12


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(0)
    X, Q = rng.normal(size=(300, 8)), rng.normal(size=(5, 8))
    ids = np.arange(1000, 1300)
    got = gen.exact_topk(Q, X, ids, 7)
    for q, row in zip(Q, got):
        want = ids[np.argsort(((X - q) ** 2).sum(1), kind="stable")[:7]]
        assert list(row) == list(want)


def test_self_time_on_hand_built_tree():
    spans = [
        {"id": 0, "name": "root", "parent": None, "op": "o", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "op": "o", "start": 1.0, "end": 3.0},
        {"id": 2, "name": "a", "parent": 0, "op": "o", "start": 2.0, "end": 5.0},
        {"id": 3, "name": "b", "parent": 0, "op": "o", "start": 7.0, "end": 8.0},
        {"id": 4, "name": "c", "parent": 2, "op": "o", "start": 2.5, "end": 4.0},
        # a child running past its parent only covers the overlap
        {"id": 5, "name": "d", "parent": 3, "op": "o", "start": 7.5, "end": 9.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1))  # children cover [1,5] and [7,8]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.0 - 0.5)
    assert st[4] == pytest.approx(1.5)
    by = self_time_by_name(spans)
    assert by["a"] == pytest.approx(3.5)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0.0, 10.0) == pytest.approx(3.0)


def test_tracer_links_parents_and_ops():
    tr = Tracer(True)
    with tr.span("outer", op="q1"):
        with tr.span("inner"):
            pass
    with tr.span("other", op="q2"):
        pass
    s = tr.dump()
    assert [(x["name"], x["parent"], x["op"]) for x in s] == [
        ("outer", None, "q1"), ("inner", 0, "q1"), ("other", None, "q2"),
    ]
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.dump() == []


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 31))
    value, pct, n = tail(xs)
    assert (value, n) == (20, 30) and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    big = list(range(1, 1001))
    assert tail(big) == (900, 90.0, 1000)


def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "w/e/build"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.executorCpuTime", "Value": 2e9},
                {"Name": "time to run Python workers", "Value": "700"},
                # worker start-up time is not worker run time
                {"Name": "time to initialize Python workers", "Value": "9000"},
                {"Name": "data sent to Python workers", "Value": "4096"},
                {"Name": "data returned from Python workers", "Value": "1024"},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (app / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events))
    d = parse_event_log(str(tmp_path))["w/e/build"]
    assert (d["jobs"], d["stages"], d["tasks"]) == (1, 1, 4)
    assert d["executor_run_s"] == pytest.approx(1.5)
    assert d["executor_cpu_s"] == pytest.approx(2.0)
    assert d["python_worker_s"] == pytest.approx(0.7)
    assert d["python_bytes"] == 4096 + 1024
    assert d["intervals"] == [(1.0, 3.0)]


def test_benchmark_json_matches_the_code():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    import ann
    import serve

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        [ann.WORKLOAD, serve.WORKLOAD]
    )
