"""Connected components vs a Python union-find reference."""

from __future__ import annotations

import random

import pytest

from vector_search_go_spark.operators.graph import connected_components, duplicate_groups


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_chain_and_island(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src bigint, dst bigint"
    )
    got = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_groups_shape(spark):
    edges = spark.createDataFrame(
        [(3, 1), (2, 3), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    rows = {
        r["group_id"]: (r["n_docs"], r["doc_ids"])
        for r in duplicate_groups(edges).collect()
    }
    assert rows == {1: (3, [1, 2, 3]), 5: (2, [5, 6])}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["id"]: r["label"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_star_self_loop_isolated_node(spark):
    edges = spark.createDataFrame([(7, 7), (1, 2)], "src bigint, dst bigint")
    for collect_threshold in (100_000, None):  # union-find, propagate
        got = {
            r["id"]: r["label"]
            for r in connected_components(
                edges, collect_threshold=collect_threshold
            ).collect()
        }
        assert got == {7: 7, 1: 1, 2: 1}, collect_threshold


def test_nonconvergence_raises(spark):
    # a 4-node path has diameter 3 > 1 round
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1, collect_threshold=None)


def test_local_fast_path_parity_and_fallback(spark):
    """r12: the size-guarded driver-side union-find must (1) reach the
    identical fixpoint as the distributed loop and (2) hand oversized
    edge lists to the distributed loop untouched."""
    rng = random.Random(33)
    edges = [(rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    fast = {r["id"]: r["label"] for r in connected_components(df).collect()}
    dist = {
        r["id"]: r["label"]
        for r in connected_components(df, collect_threshold=None).collect()
    }
    assert fast == dist == _uf_components(edges)
    # threshold smaller than the edge list -> distributed loop (same
    # answer; exercised end-to-end because max_iter must now matter)
    over = {
        r["id"]: r["label"]
        for r in connected_components(df, collect_threshold=10).collect()
    }
    assert over == fast
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, collect_threshold=3)


def test_null_endpoints_dropped_on_both_paths(spark):
    """Edges with a null endpoint are dropped before either path: the
    driver-side union-find (default threshold) and the distributed loop
    (threshold 0) return the same labels, with no null row."""
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (None, None), (4, 5), (6, None), (5, 1)],
        "src bigint, dst bigint",
    )
    fast = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    dist = {
        r["id"]: r["label"]
        for r in connected_components(edges, collect_threshold=0).collect()
    }
    assert fast == dist == {1: 1, 2: 1, 4: 1, 5: 1}
