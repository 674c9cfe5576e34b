"""Streaming LSH index ingest: incremental bucket maintenance.

The reference clears the whole store and rebuilds on every Train
(lsh/lsh.go:107-110) — there is no incremental path. Here the trained
forest is a frozen broadcast model, so new vectors are a pure
projection: stream (id, vec) -> hash UDF -> posexplode -> append
(tree, hash, id) rows to the bucket store. Exactly the batch
``LshIndex._bucketize`` plan lifted onto a streaming source; the sink is
an append-mode parquet write partitioned by tree (idempotent via
checkpoint), after which searches see old + new vectors in one bucket
DataFrame.

Model drift note (documented semantics): planes are data-dependent
(hasher.go:100-134), so a distribution shift degrades bucket balance
over time — the answer is a periodic batch re-Train, not per-record
model updates; recall on appended data is monitored with the standard
epsilon-recall harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_go_spark.lsh.hasher import Forest
from vector_search_go_spark.lsh.index import _hash_probe_udf


def _bucket_rows(df: DataFrame, hash_vec) -> DataFrame:
    """(id, vec) -> (tree, hash, id) bucket rows via the frozen forest's
    hash UDF — the one projection both the streaming bucketizer and the
    combined LSH drain share (same plan as batch LshIndex._bucketize)."""
    return df.select(
        "id", F.posexplode(hash_vec("vec")).alias("tree", "hash")
    ).select(F.col("tree").cast("int"), "hash", "id")


def stream_bucketize(
    spark: SparkSession, vec_stream: DataFrame, forest: Forest
) -> DataFrame:
    """vec_stream(id, vec) -> streaming (tree, hash, id) bucket rows."""
    return _bucket_rows(
        vec_stream, _hash_probe_udf(spark, forest, with_probes=False)
    )


def ingest_to_bucket_store(
    spark: SparkSession,
    vec_stream: DataFrame,
    forest: Forest,
    bucket_path: str,
    checkpoint_path: str,
    timeout: int = 120,
) -> None:
    """Drain the stream (availableNow) into the parquet bucket store.

    The sink is a foreachBatch plain append, NOT the parquet file sink:
    the file sink pins the output directory to ONE checkpoint via its
    _spark_metadata log — a later ingest run with a different checkpoint
    silently contributes nothing (its batch ids collide with committed
    ones), and compaction (compact_bucket_store) would invalidate the
    log by rewriting files. foreachBatch appends are at-least-once
    (a batch retried across a crash can append twice); duplicate bucket
    rows are harmless to search correctness — candidates are deduped
    (lsh/search.py dropDuplicates, the reference's O29 set semantics) —
    and compaction is the natural place to also dropDuplicates if store
    size matters."""
    buckets = stream_bucketize(spark, vec_stream, forest)
    _drain_append(buckets, bucket_path, "tree", checkpoint_path, timeout)


def ingest_to_lsh_store(
    spark: SparkSession,
    vec_stream: DataFrame,
    forest: Forest,
    path: str,
    checkpoint_path: str,
    timeout: int = 120,
) -> None:
    """One drain, BOTH store components: each microbatch appends its
    (tree, hash, id) rows to ``{path}/buckets`` AND its (id, vec) rows
    to ``{path}/vectors`` — the missing half of ingest_to_bucket_store,
    whose callers had to append vectors out-of-band for maintain()'s
    clear-and-rebuild to see streamed data. Both appends share the one
    checkpoint, so the at-least-once contract is per-batch-coherent: a
    replayed batch duplicates rows in both components together
    (compact(dedup=True) / maintain(dedup_ids=True) heal each side)."""
    _check_no_sink_log(f"{path}/buckets")
    _check_no_sink_log(f"{path}/vectors")
    hash_vec = _hash_probe_udf(spark, forest, with_probes=False)

    def append(batch_df: DataFrame, _epoch: int) -> None:
        batch_df = batch_df.select("id", "vec").persist()
        (
            _bucket_rows(batch_df, hash_vec)
            .write.mode("append")
            .partitionBy("tree")
            .parquet(f"{path}/buckets")
        )
        batch_df.write.mode("append").parquet(f"{path}/vectors")
        batch_df.unpersist()

    _run_drain(vec_stream, append, checkpoint_path, timeout, path)


def ingest_to_ivfpq_store(
    spark: SparkSession,
    vec_stream: DataFrame,
    path: str,
    checkpoint_path: str,
    timeout: int = 120,
) -> None:
    """Frozen-model IVFADC drain (store written by pq.ivfpq_save): each
    microbatch assigns cells with the frozen coarse centroids, encodes
    PQ codes with the frozen codebook, and appends (cell, id, codes) to
    ``{path}/cells`` AND the full-precision (id, vec) rows to
    ``{path}/vectors`` under one checkpoint — the rerank-fetch table
    must see streamed vectors too, or ADC shortlists rank ids the exact
    rerank cannot fetch. Uses the exact kernels ivfpq_save's
    projections use (assign_cells' argmin_id_arrow + pq_codes_udf), so
    streamed rows are bit-identical to a batch re-save of the same
    vectors. Same at-least-once, per-batch-coherent contract as
    ingest_to_lsh_store."""
    from vector_search_go_spark.operators.argmin import argmin_id_arrow
    from vector_search_go_spark.operators.pq import (
        pq_codes_residual_udf,
        pq_codes_udf,
        store_encoding,
    )

    _check_no_sink_log(f"{path}/cells")
    _check_no_sink_log(f"{path}/vectors")
    # build both frozen-model UDFs ONCE outside the batch loop — each
    # collects its model at construction (argmin_id_arrow /
    # pq_codes_udf), so per-batch work is a pure projection, the same
    # hoisting ingest_to_ivf_store does. The store's OWN encoding tag
    # picks the code kernel: appending raw codes into a residual store
    # (or vice versa) would serve wrong ADC ranks for streamed rows.
    centroids_df = spark.read.parquet(f"{path}/centroids")
    codebook_df = spark.read.parquet(f"{path}/codebook")
    nearest = argmin_id_arrow(centroids_df, metric="l2")
    if store_encoding(spark, path) == "residual":
        codes_res = pq_codes_residual_udf(codebook_df, centroids_df)

        def codes_rows(d: DataFrame) -> DataFrame:
            return d.withColumn("cell", nearest(F.col("vec"))).select(
                "cell", "id", codes_res(F.col("vec"), F.col("cell")).alias("codes")
            )
    else:
        codes_udf = pq_codes_udf(codebook_df)

        def codes_rows(d: DataFrame) -> DataFrame:
            return d.select(
                nearest(F.col("vec")).alias("cell"),
                "id",
                codes_udf(F.col("vec")).alias("codes"),
            )

    def append(batch_df: DataFrame, _epoch: int) -> None:
        batch_df = batch_df.select("id", "vec").persist()
        (
            codes_rows(batch_df)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )
        (
            batch_df.write.mode("append")
            # same 64 KiB row groups as ivfpq_save's rerank table
            .option("parquet.block.size", 64 << 10)
            .parquet(f"{path}/vectors")
        )
        batch_df.unpersist()

    _run_drain(vec_stream, append, checkpoint_path, timeout, path)


def ingest_to_sharded_store(
    spark: SparkSession,
    vec_stream: DataFrame,
    path: str,
    checkpoint_path: str,
    timeout: int = 120,
) -> None:
    """Route an (id, vec) stream into a SHARDED store layout
    (serve/sharded.py; VERDICT r6 item 4): each microbatch is split by
    the layout's own id-hash rule (shard_expr — the SAME pmod(xxhash64)
    the savers used, so streamed rows land exactly where a batch
    re-save would put them) and appended to each shard's components
    through the layout's frozen models, read once from shard=0 (every
    shard was saved from the same index, so the models are identical
    across shards by construction).

    Per family the per-shard appends mirror the single-store drains:
    lsh -> buckets + vectors, ivf -> cells (vectors colocated),
    ivfpq -> coded cells + rerank vectors, scan -> vectors. All appends
    across all shards share ONE checkpoint, so the at-least-once
    contract stays per-batch-coherent: a replayed batch duplicates rows
    in every component of every shard together.

    The caller refreshes ``{path}/hot_buckets`` after an LSH drain
    (serve.sharded.refresh_hot_buckets) — appends change GLOBAL bucket
    sizes and survivor-rule parity hangs on them; ingest_cycle does
    this automatically."""
    from vector_search_go_spark.serve.sharded import (
        read_shards_meta,
        shard_expr,
    )

    meta = read_shards_meta(path)
    if meta is None:
        raise FileNotFoundError(
            f"{path!r} has no shards_meta — single stores drain through "
            "ingest_to_lsh_store / ingest_to_ivf_store / "
            "ingest_to_ivfpq_store"
        )
    family = meta["family"]
    n = int(meta["n_shards"])
    shard0 = f"{path}/shard=0"
    writers = []  # (subdir, row_fn, part_col, block_size)
    if family == "lsh":
        from vector_search_go_spark.lsh.index import LshIndex

        forest = LshIndex.load_forest(spark, shard0)
        hash_vec = _hash_probe_udf(spark, forest, with_probes=False)
        writers = [
            ("buckets", lambda d: _bucket_rows(d, hash_vec), "tree", None),
            ("vectors", lambda d: d, None, None),
        ]
    elif family == "ivf":
        from vector_search_go_spark.operators.argmin import argmin_id_arrow

        metric = meta.get("metric")
        if metric is None:
            raise ValueError(
                f"sharded ivf layout at {path!r} has no metric in "
                "shards_meta — re-save with ivf_save(shards=N)"
            )
        nearest = argmin_id_arrow(
            spark.read.parquet(f"{shard0}/centroids"), metric=metric
        )
        writers = [
            (
                "cells",
                lambda d: d.select(
                    "id", "vec", nearest(F.col("vec")).alias("cell")
                ),
                "cell",
                None,
            )
        ]
    elif family == "ivfpq":
        from vector_search_go_spark.operators.argmin import argmin_id_arrow
        from vector_search_go_spark.operators.pq import (
            pq_codes_residual_udf,
            pq_codes_udf,
            store_encoding,
        )

        centroids_df = spark.read.parquet(f"{shard0}/centroids")
        codebook_df = spark.read.parquet(f"{shard0}/codebook")
        nearest = argmin_id_arrow(centroids_df, metric="l2")
        # encoding from shard=0's store_meta (the per-shard saves carry
        # the tag) — streamed codes must match what the shard serves
        if store_encoding(spark, path) == "residual":
            codes_res = pq_codes_residual_udf(codebook_df, centroids_df)

            def _ivfpq_rows(d: DataFrame) -> DataFrame:
                return d.withColumn("cell", nearest(F.col("vec"))).select(
                    "cell", "id",
                    codes_res(F.col("vec"), F.col("cell")).alias("codes"),
                )
        else:
            codes_udf = pq_codes_udf(codebook_df)

            def _ivfpq_rows(d: DataFrame) -> DataFrame:
                return d.select(
                    nearest(F.col("vec")).alias("cell"),
                    "id",
                    codes_udf(F.col("vec")).alias("codes"),
                )

        writers = [
            ("cells", _ivfpq_rows, "cell", None),
            ("vectors", lambda d: d, None, 64 << 10),
        ]
    elif family == "scan":
        writers = [("vectors", lambda d: d, None, None)]
    else:
        raise ValueError(f"unknown sharded family {family!r}")
    for k in range(n):
        for sub, _fn, _pc, _bs in writers:
            _check_no_sink_log(f"{path}/shard={k}/{sub}")
    sh = shard_expr(n)

    def append(batch_df: DataFrame, _epoch: int) -> None:
        batch_df = (
            batch_df.select("id", "vec")
            .withColumn("_shard", sh)
            .persist()
        )
        for k in range(n):
            sub_df = batch_df.filter(F.col("_shard") == k).drop("_shard")
            for sub, row_fn, part_col, block_size in writers:
                w = row_fn(sub_df).write.mode("append")
                if block_size is not None:
                    w = w.option("parquet.block.size", block_size)
                if part_col is not None:
                    w = w.partitionBy(part_col)
                w.parquet(f"{path}/shard={k}/{sub}")
        batch_df.unpersist()

    _run_drain(vec_stream, append, checkpoint_path, timeout, path)


def parquet_file_count(root: str) -> int:
    """Parquet fragment count under a store component — the
    fragmentation signal ingest_cycle's compaction trigger reads."""
    import os

    return sum(
        1
        for _dirp, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def compact_bucket_store(
    spark: SparkSession,
    bucket_path: str,
    dedup: bool = False,
    keep_backup: bool = True,
    drop_ids: DataFrame | None = None,
) -> dict:
    """Rewrite an append-fragmented bucket store back into the trained
    layout: one hash-sorted file per tree directory.

    Streaming ingest appends one small UNSORTED file per microbatch per
    tree — after a day of microbatches the store is thousands of files
    whose row-group hash ranges all overlap, so the point-lookup's
    pushed ``hash IN`` predicate (lsh.search.lsh_point_search) can no
    longer skip row groups and every probe reads every fragment. This is
    the standard lakehouse small-file problem applied to the index;
    compaction restores both the file count and the sort order that
    row-group statistics pruning depends on.

    Same plan as ``LshIndex.save``: range-partition by tree (a handful
    of trees per task), sort within partitions by (tree, hash), write
    partitioned by tree. The swap is two directory renames (write to a
    sibling tmp dir, move the old store aside, move the new one in) —
    on a real deployment this swap is a table-format metadata commit
    (Iceberg/Delta), not a filesystem rename; the rewrite plan is
    identical either way.

    ``keep_backup=True`` (default) retains the pre-compaction copy as
    ``{path}.compact-old`` until ``gc_compacted_store`` or the next
    compaction — one extra store copy of disk, buying recoverability if
    the compacted copy turns out wrong. Pass ``keep_backup=False`` on
    tight volumes to delete it right after the swap.

    Returns {"files_before", "files_after", "rows", "backup_path"}.
    """
    return _compact_store(
        spark,
        bucket_path,
        part_col="tree",
        sort_cols=["tree", "hash"],
        select=[F.col("tree").cast("int"), F.col("hash"), F.col("id")],
        dedup_cols=["tree", "hash", "id"] if dedup else None,
        keep_backup=keep_backup,
        drop_ids=drop_ids,
    )


def ingest_to_ivf_store(
    spark: SparkSession,
    vec_stream: DataFrame,
    centroids: DataFrame,
    cells_path: str,
    checkpoint_path: str,
    metric: str = "cosine",
    timeout: int = 120,
) -> None:
    """Frozen-centroid IVF twin of ingest_to_bucket_store: stream
    (id, vec) -> Arrow argmin cell assignment (the centroid matrix
    rides in the kernel closure — a pure map stage on the stream) ->
    append (id, vec) rows partitioned by cell to a store saved by
    ann_ivf.ivf_save. Same foreachBatch-append contract and the same
    drift caveat: centroids are the frozen model; a distribution shift
    degrades cell balance and the answer is a periodic batch re-train,
    monitored with the recall harness."""
    from vector_search_go_spark.operators.argmin import argmin_id_arrow

    nearest = argmin_id_arrow(centroids, metric=metric)
    assigned = vec_stream.select(
        "id", "vec", nearest(F.col("vec")).alias("cell")
    )
    _drain_append(assigned, cells_path, "cell", checkpoint_path, timeout)


def _check_no_sink_log(path: str) -> None:
    """Refuse to touch a store that carries a parquet FILE-SINK metadata
    log: reads through such a directory resolve files via the log, so
    rows appended outside it are invisible — and a compaction would
    then silently discard them. Stores written by this module (or by
    ivf_save/LshIndex.save) never have one; a _spark_metadata dir means
    the store was produced by the old file-sink ingest and must be
    migrated first (verify no uncommitted files, delete the log)."""
    import os

    if os.path.exists(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} contains a streaming file-sink _spark_metadata log; "
            "appends/compaction would silently lose rows. Migrate the "
            "store first (verify the log matches the files, then delete "
            "_spark_metadata)."
        )


def _run_drain(
    df: DataFrame, append_fn, checkpoint_path: str, timeout: int, path_desc: str
) -> None:
    """availableNow foreachBatch drain with the shared timeout contract
    (used by every ingest in this module — keep it in ONE place)."""
    q = (
        df.writeStream.foreachBatch(append_fn)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        # a partially-drained store is consistent (whole microbatches),
        # but returning as if done would let a follow-up compaction
        # race the still-running appends — stop and say so
        q.stop()
        raise TimeoutError(
            f"stream ingest into {path_desc} still running after {timeout}s; "
            "stopped mid-drain — rerun with the same checkpoint to resume"
        )


def _drain_append(
    df: DataFrame, path: str, part_col: str, checkpoint_path: str, timeout: int
) -> None:
    _check_no_sink_log(path)

    def append(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("append").partitionBy(part_col).parquet(path)

    _run_drain(df, append, checkpoint_path, timeout, path)


def compact_cells_store(
    spark: SparkSession,
    cells_path: str,
    dedup: bool = False,
    keep_backup: bool = True,
    drop_ids: DataFrame | None = None,
) -> dict:
    """IVF twin of compact_bucket_store: restore the ivf_save layout
    (a few cells per task, rows sorted by (cell, id)) after streaming
    appends fragment the store."""
    return _compact_store(
        spark,
        cells_path,
        part_col="cell",
        sort_cols=["cell", "id"],
        select=[F.col("cell").cast("int"), F.col("id"), F.col("vec")],
        dedup_cols=["cell", "id"] if dedup else None,
        keep_backup=keep_backup,
        drop_ids=drop_ids,
    )


def compact_vectors_store(
    spark: SparkSession,
    vectors_path: str,
    dedup: bool = False,
    keep_backup: bool = True,
    block_size: int = 512 << 10,
    drop_ids: DataFrame | None = None,
) -> dict:
    """Compact a FLAT vectors table back to its saved layout
    (id-sorted): ingest_to_lsh_store / ingest_to_ivfpq_store append one
    unsorted fragment per microbatch here too, and a fragmented vectors
    table degrades both reader preloads and candidate row-group
    skipping even when the indexed side is healthy. ``dedup`` collapses
    at-least-once replay duplicates by id (the same rule as
    maintain(dedup_ids=True)). ``block_size`` matches the saving
    writer's row groups: 512 KiB for LshIndex.save, 64 KiB for
    ivfpq_save's scattered-shortlist rerank table."""
    return _compact_store(
        spark,
        vectors_path,
        part_col=None,
        sort_cols=["id"],
        select=[F.col("id"), F.col("vec")],
        dedup_cols=["id"] if dedup else None,
        keep_backup=keep_backup,
        block_size=block_size,
        drop_ids=drop_ids,
    )


def compact_codes_store(
    spark: SparkSession,
    cells_path: str,
    dedup: bool = False,
    keep_backup: bool = True,
    drop_ids: DataFrame | None = None,
) -> dict:
    """IVFADC twin of compact_cells_store for the CODES cells table
    (cell, id, codes — written by pq.ivfpq_save): restore a few cells
    per task, rows sorted by (cell, id), after streaming appends
    fragment the store."""
    return _compact_store(
        spark,
        cells_path,
        part_col="cell",
        sort_cols=["cell", "id"],
        select=[F.col("cell").cast("int"), F.col("id"), F.col("codes")],
        dedup_cols=["cell", "id"] if dedup else None,
        keep_backup=keep_backup,
        drop_ids=drop_ids,
    )


def _compact_store(
    spark: SparkSession,
    path: str,
    part_col: str | None,
    sort_cols: list,
    select: list,
    dedup_cols: list | None,
    keep_backup: bool = True,
    block_size: int | None = None,
    drop_ids: DataFrame | None = None,
) -> dict:
    import os
    import shutil

    _check_no_sink_log(path)
    before = parquet_file_count(path)
    df = spark.read.parquet(path).select(*select)
    if dedup_cols:
        # collapse at-least-once replay duplicates from the foreachBatch
        # sink; an exact-duplicate row can only come from a retried batch
        df = df.dropDuplicates(dedup_cols)
    if drop_ids is not None:
        # physical tombstone purge (streaming.delete.purge_tombstones):
        # the takedown-sized id set broadcasts into the rewrite scan
        df = df.join(F.broadcast(drop_ids.select("id")), on="id", how="left_anti")
    tmp = path.rstrip("/") + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # part_col=None: flat (unpartitioned) component like the vectors
    # table — range-partition on the leading sort column instead
    writer = (
        df.repartitionByRange(8, part_col or sort_cols[0])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
    )
    if block_size is not None:
        writer = writer.option("parquet.block.size", block_size)
    if part_col is not None:
        writer = writer.partitionBy(part_col)
    writer.parquet(tmp)
    # count from the written copy's footers — counting the lazy df
    # would scan (and dedup-shuffle) the fragmented store a second time
    n_rows = spark.read.parquet(tmp).count()
    old = path.rstrip("/") + ".compact-old"
    shutil.rmtree(old, ignore_errors=True)
    # Swap window: a crash between these two replaces leaves no store
    # at `path` — but `.compact-old` (the intact pre-compaction copy)
    # and `.compact-tmp` (the complete compacted copy) both survive,
    # so recovery is one manual rename. With keep_backup=True the old
    # copy is KEPT after the swap: callers confirm the new store (or
    # just run gc_compacted_store) once they're satisfied, so a latent
    # problem in the compacted copy (e.g. dedup=True collapsing rows it
    # shouldn't) stays recoverable — at the cost of one extra store
    # copy of disk until gc/next compaction.
    os.replace(path, old)
    os.replace(tmp, path)
    if not keep_backup:
        shutil.rmtree(old, ignore_errors=True)
    else:
        # the retained copy doubles the store's disk footprint until
        # gc_compacted_store — say so where the operator can see it
        import logging

        backup_bytes = sum(
            os.path.getsize(os.path.join(dirp, f))
            for dirp, _dirs, files in os.walk(old)
            for f in files
        )
        logging.getLogger(__name__).warning(
            "compaction kept pre-compaction backup at %s (%.1f MiB); "
            "run gc_compacted_store(%r) to reclaim it",
            old, backup_bytes / (1 << 20), path,
        )
    # Drop the session's cached file listing for the swapped path —
    # otherwise the next spark.read.parquet(path) can plan against the
    # pre-compaction file set and fail with FILE_NOT_EXIST.
    spark.catalog.refreshByPath(path)
    return {
        "files_before": before,
        "files_after": parquet_file_count(path),
        "rows": n_rows,
        "backup_path": old if keep_backup else None,
    }


def gc_compacted_store(path: str) -> bool:
    """Delete the ``.compact-old`` backup kept by a prior compaction
    once the caller has confirmed the compacted store. Returns whether
    a backup existed."""
    import os
    import shutil

    old = path.rstrip("/") + ".compact-old"
    existed = os.path.isdir(old)
    shutil.rmtree(old, ignore_errors=True)
    return existed
