"""k-means coarse-quantizer training (Lloyd's algorithm), Spark-first.

The reference ships no trained quantizer — its LSH planes are random
(lsh/hasher.go:100-188) and this repo's IVF/PQ layers (ann_ivf.py,
pq.py) default to deterministic sampled centroids/codebooks. Training
centroids with a few Lloyd iterations tightens cells so the same probe
budget covers more true neighbors; on the isotropic synthetic bench the
gain is a few recall points, on clustered real embeddings it is the
difference between probing 50% and 1-10% of the corpus.

Everything is deterministic and seed-free: init is the first ``k``
corpus vectors by id (as good as any sample on exchangeable data, and
expressible on both engines), each iteration is one broadcast
nearest-centroid assignment plus one per-cell mean, and empty cells
keep their previous centroid.

All functions take an optional ``group`` column list and then train one
INDEPENDENT k-means per group value in the same plan — the shape PQ
codebook training needs (one k-means per subspace, operators/pq.py):
the group key simply joins/aggregates alongside cid, so M codebooks
cost the same number of shuffles as one.

Two mean paths:
  - ``exact=True``: per-cell id-ordered fold — the double sum is
    bit-identical to the DuckDB oracle (same left-to-right IEEE order),
    so queries built on the trained centroids stay hash-checkable. The
    per-cell ``collect_list`` bounds this path to cells that fit in one
    task — fine for k*|cell| in the millions, not the 100 TB path.
  - ``exact=False`` (default): posexplode + ``avg`` per (cell, dim) —
    fully map-side combinable, no per-cell materialization; the
    production path at any scale.

At 100 TB: per iteration, cost = one scan of the corpus with a
broadcast centroid table (k x dim doubles, KBs) and a k*dim-group
aggregation — no corpus shuffle. ``iters`` is a small constant; the
lineage stays a flat unrolled chain Catalyst handles trivially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_go_spark.functions.metrics import as_double


def kmeans_init(
    corpus: DataFrame,
    k: int,
    group: list[str] | None = None,
    spread: bool = False,
) -> DataFrame:
    """corpus(id, vec) -> (*group, cid, cvec): the first ``k`` vectors
    by id (per group), cid = 0..k-1 in id order. Ungrouped, TakeOrdered
    pushes the limit into the scan and the single-partition window
    ranks only k rows; grouped, one window pass partitioned by group.

    ``spread=True`` selects seeds by xxhash64(id) order instead of id
    order — a deterministic uniform pseudo-random sample over the WHOLE
    corpus (still a distributed TakeOrdered, no RNG state). First-k-by-
    id init systematically fails on maintenance retrains: streamed
    appends always carry ids AFTER the original corpus, so every seed
    lands in the stale region and Lloyd iterations cannot migrate
    enough centroids into the drifted one. Default stays first-k (the
    oracle-pinned kmeans_train_centroids behavior)."""
    group = group or []
    seed_order = (
        [F.xxhash64(F.col("id")), F.col("id")] if spread else [F.col("id")]
    )
    if group:
        w = Window.partitionBy(*group).orderBy(*seed_order)
        ranked = corpus.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        )
        if spread:
            # re-rank the chosen seeds in id order so cid assignment
            # stays the id-order contract regardless of hash order
            w2 = Window.partitionBy(*group).orderBy("id")
            ranked = ranked.drop("_rn").withColumn(
                "_rn", F.row_number().over(w2)
            )
        return ranked.select(
            *group,
            (F.col("_rn") - 1).cast("int").alias("cid"),
            as_double(F.col("vec")).alias("cvec"),
        )
    seeds = corpus.orderBy(*seed_order).limit(k)
    # Global (unpartitioned) window — Spark warns "No Partition Defined
    # for Window". Deliberate: the input is the k seed rows post-limit
    # (model-sized, never corpus-sized), so one partition is the point.
    w = Window.orderBy("id")
    return seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("cid"),
        as_double(F.col("vec")).alias("cvec"),
    )


def kmeans_assign(
    corpus: DataFrame,
    cents: DataFrame,
    group: list[str] | None = None,
) -> DataFrame:
    """corpus(id, vec) x cents(cid, cvec) -> (*group, id, vec, cell):
    nearest centroid by squared L2, (d, cid) tie-break. One pure map
    stage over the corpus — no corpus shuffle, no per-id aggregation;
    k-means iterations cost one corpus SCAN each, not one corpus
    EXCHANGE each.

    The Arrow-batched numpy argmin (operators.argmin) scores with
    metric_dist's fold order, so cells are the oracle's bit for bit;
    ~10-30x the interpreted higher-order-lambda argmin at the 1M
    probe. Grouped input uses the per-group kernel
    (argmin_id_arrow_grouped, single group column)."""
    if group:
        if len(group) != 1:
            raise ValueError("kmeans_assign supports a single group column")
        from vector_search_go_spark.operators.argmin import argmin_id_arrow_grouped

        nearest = argmin_id_arrow_grouped(cents, group[0], metric="sq_l2")
        return corpus.select(
            *group, "id", "vec",
            nearest(F.col(group[0]), F.col("vec")).alias("cell"),
        )

    from vector_search_go_spark.operators.argmin import argmin_id_arrow

    nearest = argmin_id_arrow(cents, metric="sq_l2")
    return corpus.select("id", "vec", nearest(F.col("vec")).alias("cell"))


def _means_exact(assigned: DataFrame, dim: int, group: list[str]) -> DataFrame:
    """Per-cell mean vector with an id-ordered fold per dimension —
    bit-portable against a DuckDB ``list(... ORDER BY id)`` +
    ``list_reduce`` oracle."""
    g = assigned.groupBy(*group, "cell").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("id"), as_double(F.col("vec")).alias("v")))
        ).alias("pairs"),
        F.count(F.lit(1)).alias("n"),
    )
    vs = F.transform(F.col("pairs"), lambda p: p["v"])
    mean = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.aggregate(
            vs, F.lit(0.0), lambda acc, v: acc + F.element_at(v, (d + 1).cast("int"))
        )
        / F.col("n"),
    )
    return g.select(*group, "cell", mean.alias("mvec"))


def _means_avg(assigned: DataFrame, group: list[str]) -> DataFrame:
    """Per-cell mean via posexplode + avg per (cell, dim): partial
    aggregation on the map side, nothing collected per cell."""
    e = assigned.select(
        *group, "cell", F.posexplode(as_double(F.col("vec"))).alias("dim", "x")
    )
    m = e.groupBy(*group, "cell", "dim").agg(F.avg("x").alias("mx"))
    return (
        m.groupBy(*group, "cell")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "mx"))).alias("s"))
        .select(*group, "cell", F.transform(F.col("s"), lambda p: p["mx"]).alias("mvec"))
    )


def kmeans_step(
    corpus: DataFrame,
    cents: DataFrame,
    dim: int = 64,
    exact: bool = False,
    group: list[str] | None = None,
) -> DataFrame:
    """One Lloyd iteration: assign + recompute means; empty cells keep
    their previous centroid (left join + coalesce).

    The assignment kernel collects the centroid table eagerly at plan
    time, so callers chaining steps should MATERIALIZE centroids
    between iterations (kmeans_fit does) — against a lazy unrolled
    chain the eager collect re-executes the whole lineage once per
    iteration."""
    group = group or []
    assigned = kmeans_assign(corpus, cents, group=group)
    means = (
        _means_exact(assigned, dim, group) if exact else _means_avg(assigned, group)
    ).withColumnRenamed("cell", "cid")
    # means is k rows per group post-aggregation; Catalyst's estimate
    # still sees the corpus-sized lineage, so hint the broadcast
    return cents.join(F.broadcast(means), on=[*group, "cid"], how="left").select(
        *group, "cid", F.coalesce("mvec", "cvec").alias("cvec")
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    iters: int = 3,
    dim: int = 64,
    exact: bool = False,
    group: list[str] | None = None,
    spread_init: bool = False,
    sample_rows: int | None = None,
) -> DataFrame:
    """Train k centroids with ``iters`` Lloyd iterations — one
    independent k-means per group value when ``group`` is given.
    Returns (*group, cid, cvec) with cvec ARRAY<DOUBLE>.

    Centroids are MATERIALIZED between iterations (driver collect +
    re-create — they are k x dim doubles, KBs): this caps the lineage
    at one iteration, makes every iteration's cost one corpus scan
    instead of i corpus scans, and lets the assignment run on the
    Arrow kernel (bit-identical to the fold — the 1M probe measured
    the interpreted expression assignment at ~10x the Arrow one).
    The collect round-trips doubles exactly, so trained centroids are
    bit-identical to the old single-lazy-plan form — pinned by the
    kmeans/PQ/IVF+PQ DuckDB oracle hashes.

    ``sample_rows`` (VERDICT r5 item 6, sampled Lloyd): iterate on a
    deterministic xxhash64-thinned subsample of ~``sample_rows`` rows
    (cached once, so every iteration scans KBs-MBs instead of the
    corpus) — the standard mini-batch/coreset trade: centroid QUALITY
    needs a representative sample, not every row, while the caller's
    full-corpus assignment pass (assign_cells / pq encode) is unchanged.
    Measured at the SCALE.md angular-IVF shape (290k x 256-d, 1024
    cells): train 415.8 s -> well under half, recall/candidate-fraction
    within the same bands. None (default) = full-corpus Lloyd — the
    oracle-pinned behavior of every registered query. Corpora at or
    under ``sample_rows`` sample nothing (the filter self-disables), so
    the knob is always safe to leave on for store builds. With
    ``group``, the bound is TOTAL rows across groups (the id filter
    thins every group identically)."""
    spark = corpus.sparkSession
    train_df, pinned = corpus, None
    if sample_rows is not None and group:
        # the thinning bound is GLOBAL (one xxhash64 filter): a small
        # group could be thinned below k rows — or to zero — silently
        # changing that group's centroid count (ADVICE r6). No caller
        # combines them; refuse until a per-group bound exists.
        raise ValueError(
            "sample_rows= cannot be combined with group=: the id-hash "
            "thinning bound is global, so a small group could sample "
            "below k rows — sample per group upstream, or drop one knob"
        )
    if sample_rows is not None:
        # Iterative deterministic thinning. Each pass sizes its modulus
        # from a BOUNDED count (limit early-terminates the scan — the
        # advisor-probe contract, never a full count of a 100 TB
        # corpus), so one pass can only shrink by up to _CAP_FACTOR;
        # passes repeat (fresh hash salt each time) until the bounded
        # count proves the sample is inside the target. 1e12 rows ->
        # 5k needs 3 passes; each pass's count stops at
        # _CAP_FACTOR * sample_rows rows read.
        if sample_rows < 1:
            raise ValueError(
                f"sample_rows={sample_rows!r}: pass a positive bound, "
                "or None to disable sampled Lloyd"
            )
        _CAP_FACTOR = 50
        salt = 0
        while True:
            n = train_df.limit(_CAP_FACTOR * sample_rows).count()
            mod = n // sample_rows
            if mod <= 1:
                break
            train_df = train_df.filter(
                F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(mod)) == 0
            )
            salt += 1
            if n < _CAP_FACTOR * sample_rows:
                break  # count was exact, so the new sample is in bound
        if salt:
            train_df = train_df.cache()
            train_df.count()  # materialize once; iterations re-scan RAM
            pinned = train_df
    cents = kmeans_init(train_df, k, group=group, spread=spread_init)
    schema = cents.schema
    for _ in range(iters):
        cents = spark.createDataFrame(cents.collect(), schema)
        cents = kmeans_step(train_df, cents, dim=dim, exact=exact, group=group)
    if pinned is not None:
        cents = spark.createDataFrame(cents.collect(), schema)
        pinned.unpersist()
    return cents
