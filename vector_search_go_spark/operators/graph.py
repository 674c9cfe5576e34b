"""Connected components over a pair-edge DataFrame.

The missing half of dedup at scale: candidate-pair generation (MinHash
bands, jaccard inverted index, cosine threshold — queries_text.py) gives
PAIRS, but "keep one copy per duplicate group" needs the transitive
closure of those pairs. This module resolves pairs into components with
min-id label propagation:

  - symmetrize the edge list once;
  - each round, every node takes min(own label, min neighbor label) —
    one equi-join + one groupBy (two shuffles) per round;
  - converged when no label changed; the fixpoint (min id reachable in
    the component) is unique, so the result is deterministic regardless
    of scheduling and is oracle-checkable against a recursive-CTE
    transitive closure.

Rounds = graph diameter, one join + one groupBy per round. Near-dup
graphs are shallow cliques/short chains (diameter <= 3), and edge lists
up to ``collect_threshold`` never reach the loop at all: the driver-side
union-find resolves them in zero Spark rounds.

Each round ends in `localCheckpoint` to truncate lineage — without it
the plan doubles per iteration and the job graph, not the data, becomes
the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    collect_threshold: int | None = 100_000,
) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns (id, label) with one row per distinct node appearing in any
    edge; `label` is the minimum node id in the node's component.
    Deterministic: the fixpoint is unique. Raises if `max_iter` rounds
    don't converge rather than silently returning partial labels.

    ``collect_threshold`` (r12, guide §8.4 "decide with small rows"):
    dup-pair edge lists are DECISION-sized — a few ids per duplicate
    cluster, orders of magnitude smaller than the corpus they came
    from. When the edge list fits under the threshold (one
    limit-bounded collect probes it — the same size-estimate gamble
    Spark's own broadcast-join threshold takes), the transitive closure
    runs as a driver-side union-find with min-id representatives: the
    SAME unique fixpoint, zero iterative Spark rounds, and the labels
    ship back as a broadcastable local relation. Edge lists that
    overflow the probe fall through to the distributed loop unchanged
    (the probe's partial rows are discarded). None disables the fast
    path. Parity is pinned in tests/test_graph.py.

    Edges with a null endpoint are dropped before either path runs, so
    a node that appears only in such edges gets no row."""
    edges = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    if collect_threshold is not None:
        probe = edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).limit(collect_threshold + 1).collect()
        if len(probe) <= collect_threshold:
            return _cc_local(edges.sparkSession, probe, edges.schema[src].dataType)
    # lazy checkpoints: the convergence count right below is the FIRST
    # action over each round's plan, so materialization rides inside
    # that job — one job per round instead of two (eager checkpoint +
    # count); later consumers read the cached rows either way
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select("b", "a")).distinct().localCheckpoint(eager=False)

    labels = sym.select(F.col("a").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(
            nbr_min, labels["id"] == nbr_min["a"], "left"
        ).select(
            "id",
            "label",
            F.least("label", F.coalesce("nbr_min", F.col("label"))).alias("new_label"),
        )
        stepped = stepped.localCheckpoint(eager=False)
        changed = stepped.filter(F.col("new_label") < F.col("label")).count()
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _cc_local(spark, edge_rows, id_type) -> DataFrame:
    """Driver-side union-find over a collected edge list: one row per
    distinct node, label = min node id in its component — the identical
    fixpoint to the distributed loop (unique by definition), computed
    without per-round Spark jobs. Path-halving + union-by-min keeps it
    near-linear; the result is a local relation the consumers can
    broadcast."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edge_rows:
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so every root IS its component's minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = sorted((x, find(x)) for x in parent)
    schema = StructType(
        [StructField("id", id_type, True), StructField("label", id_type, True)]
    )
    return spark.createDataFrame(rows, schema)


def duplicate_groups(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Resolve dup-candidate pairs into groups: one row per duplicate
    group — (group_id = canonical min doc id, n_docs, member ids
    sorted). Every node in the edge list lands in exactly one group of
    size >= 2."""
    comp = connected_components(pairs, src=id_a, dst=id_b)
    return comp.groupBy(F.col("label").alias("group_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sort_array(F.collect_list("id")).alias("doc_ids"),
    )
