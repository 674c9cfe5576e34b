"""LSH index: train (bucket build) and persistence.

Parity target: reference ``Train`` (lsh/lsh.go:106-134) — clear store,
build tree forest, hash every vector, write one bucket entry per tree —
and the KV store it writes into (store/kv/store.go:16-101).

Spark shape (SURVEY.md section 3.1): the KV store becomes two
DataFrames —

  vectors(id BIGINT, vec ARRAY<DOUBLE-compatible>)   [SetVector]
  buckets(tree INT, hash BIGINT, id BIGINT)          [SetHash]

The tree forest is built driver-side from a bounded sample, broadcast,
and applied as ONE Arrow-batched pandas UDF projection + posexplode —
no per-row Python, no goroutine batching (the reference's BatchSize
concurrency, lsh.go:114-131, is replaced by Spark partitions).

Scale design: buckets are written partitioned by ``tree`` and sorted by
``hash`` within files so a (tree, hash) equi-join prunes partitions and
row groups; the model itself is tiny (KBs-MBs) and rides the broadcast.
"""

from __future__ import annotations

import json
import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from vector_search_go_spark.config import LshConfig
from vector_search_go_spark.io import meta_files, parse_meta_files
from vector_search_go_spark.lsh.hasher import Forest


def _hash_probe_udf(spark: SparkSession, forest: Forest, with_probes: bool):
    """Arrow-batched UDF: vec -> array of n_trees hashes (train) or
    2*n_trees [hashes..., probes...] (search, reference multiprobe
    lsh/lsh.go:146-155).

    The forest is broadcast as the pickled object (numpy plane arrays
    serialize binary — ~10x smaller and ~100x faster to load than the
    JSON wire format, which remains the on-disk model format only).
    ``broadcast.value`` is cached per python worker process, and the
    flattened traversal arrays are cached on the Forest instance, so
    per-batch overhead is just the einsum traversal.

    The broadcast itself is cached on the Forest instance: a long-lived
    stream calling lsh_search once per micro-batch must reuse one
    broadcast, not accumulate one per batch."""
    bc = getattr(forest, "_bc", None)
    if bc is None:
        bc = spark.sparkContext.broadcast(forest)
        forest._bc = bc

    @pandas_udf(T.ArrayType(T.LongType()))
    def hash_vec(batch: pd.Series) -> pd.Series:
        forest_local = bc.value
        X = np.vstack(batch.to_numpy())
        hashes = forest_local.hash_batch(X)
        if with_probes:
            probes = forest_local.probe_batch(hashes)
            hashes = np.concatenate([hashes, probes], axis=1)
        return pd.Series(list(hashes))

    return hash_vec


class LshIndex:
    """Facade wiring config + forest + the two store DataFrames
    (reference NewLsh/LSHIndex, lsh/lsh.go:85-103)."""

    def __init__(self, config: LshConfig, forest: Forest, vectors: DataFrame, buckets: DataFrame):
        self.config = config
        self.forest = forest
        self.vectors = vectors  # (id, vec)
        self.buckets = buckets  # (tree, hash, id)

    # ------------------------------------------------------------------

    @classmethod
    def train(
        cls,
        spark: SparkSession,
        df: DataFrame,
        config: LshConfig,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "LshIndex":
        """Build the index over df(id_col, vec_col).

        Reference Train (lsh/lsh.go:106-134); the store-clear step is
        implicit (fresh DataFrames). The tree-build sample is a seeded
        Bernoulli sample of the whole input (not a first-N limit, which
        would fit every split plane to whatever region the leading
        partitions hold on sorted/clustered corpora), bounded to
        config.sample_size rows.
        """
        vectors = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        n = vectors.count()
        if n == 0:
            raise ValueError("cannot train an LSH index on an empty corpus")
        sample = vectors.select("vec")
        if n > config.sample_size:
            frac = min(1.0, 1.2 * config.sample_size / n)
            sample = sample.sample(fraction=frac, seed=config.seed)
        sample_rows = (
            sample.limit(config.sample_size).toPandas()["vec"].to_numpy()
        )
        X = np.vstack(sample_rows).astype(np.float64)
        forest = Forest.build(X, config)
        buckets = cls._bucketize(spark, vectors, forest)
        return cls(config, forest, vectors, buckets)

    @staticmethod
    def _bucketize(spark: SparkSession, vectors: DataFrame, forest: Forest) -> DataFrame:
        # No forced repartition here: the pandas-UDF hash is numpy-
        # vectorized per Arrow batch, so per-partition Python-worker
        # startup dominates on small inputs; large inputs already arrive
        # with many splits.
        hash_vec = _hash_probe_udf(spark, forest, with_probes=False)
        return (
            vectors.select("id", F.posexplode(hash_vec("vec")).alias("tree", "hash"))
            .select(F.col("tree").cast("int"), "hash", "id")
        )

    def bucket_stats(self) -> DataFrame:
        """(tree, hash, sz) for every bucket — one aggregation over the
        bucket store, cached (n_buckets rows, tiny next to the store).
        Feeds the hot-bucket bound in lsh_search and the oversize
        surfacing in lsh_bucket_profile: k_min_vecs bounds bucket
        MINIMUM size only, so duplicate-heavy/low-entropy corpora can
        leave unsplittable giant buckets (reference analog: the scan
        regions MaxCandidates truncates, lsh/lsh.go:143,162)."""
        stats = getattr(self, "_bucket_stats", None)
        if stats is None:
            stats = (
                self.buckets.groupBy("tree", "hash")
                .agg(F.count(F.lit(1)).alias("sz"))
                .cache()
            )
            self._bucket_stats = stats
        return stats

    # ------------------------------------------------------------------
    # Persistence (reference DumpHasher/LoadHasher, lsh/lsh.go:200-207;
    # store Clear == overwrite mode)
    # ------------------------------------------------------------------

    def save(self, path: str, shards: int | None = None) -> None:
        """``shards=N`` writes the sharded SERVING layout instead
        (serve.sharded): {path}/shard=K = a complete single-store save
        of the id-subset pmod(xxhash64(id), N) == K, {path}/hot_buckets
        = the whole-store over-cap bucket sizes (so every shard reader
        applies the survivor rule with the GLOBAL keep_mod — the
        bit-parity argument in serve/sharded.py), {path}/shards_meta =
        the router's manifest. Each shard re-filters the buckets/
        vectors lineage (N passes); a single-pass partitionBy('shard')
        writer is the 100 TB optimization, kept out until a measured
        probe needs it — the layout, not the writer, is the contract."""
        if shards is not None:
            from vector_search_go_spark.serve.sharded import (
                check_shard_population,
                shard_expr,
                write_shards_meta,
            )

            spark = self.vectors.sparkSession
            # pin the bucket table first: its lineage runs the hashing
            # UDF over the corpus, and the per-shard filtered saves
            # below would re-execute it once per shard (+ once for
            # bucket_stats) — an order-of-magnitude build blow-up the
            # first sharded probe hit. Respect a caller's existing
            # cache (unpersisting it here would silently kill the
            # query-pack memo's pinned buckets).
            was_cached = self.buckets.is_cached
            if not was_cached:
                self.buckets = self.buckets.cache()
                self.buckets.count()
            try:
                check_shard_population(self.vectors, shards, "lsh corpus")
                sh = shard_expr(shards)
                for k in range(shards):
                    LshIndex(
                        self.config,
                        self.forest,
                        self.vectors.filter(sh == k),
                        self.buckets.filter(sh == k),
                    ).save(f"{path}/shard={k}")
                cap = self.config.max_bucket_size
                if cap is not None:
                    (
                        self.bucket_stats()
                        .filter(F.col("sz") > cap)
                        .write.mode("overwrite")
                        .parquet(f"{path}/hot_buckets")
                    )
                write_shards_meta(spark, path, "lsh", shards)
            finally:
                if not was_cached:
                    self.buckets.unpersist()
            return
        spark = self.vectors.sparkSession
        # Model = config (one tiny JSON row) + flattened node table as
        # parquet. The old single-JSON-line model hit Spark's JSON
        # reader record ceiling once trained forests passed ~tens of MB
        # (100 MB at 1M vectors / 100k build sample); a node table has
        # no such ceiling. load() still reads legacy 'model' dirs.
        spark.createDataFrame(
            [(json.dumps(self.forest.config_dict()),)], "config_json string"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/model_config")
        spark.createDataFrame(
            self.forest.to_node_rows(),
            "tree int, idx int, n array<double>, d double, left int, right int",
        ).write.mode("overwrite").parquet(f"{path}/model_nodes")
        (
            # range-partition a handful of trees per task: one file per
            # tree directory without hashing 40 trees across 32 shuffle
            # partitions (which writes O(partitions x trees) small files).
            # Small row groups (1 MiB vs the 128 MiB default): rows are
            # hash-sorted, so bucket lookups prune by row-group min/max
            # stats — at 1M vectors a tree file is one default-size row
            # group and every probe decodes the whole tree. Row-group
            # size is the probe's unit of wasted decode for BOTH the
            # Spark point paths and the driver-side local reader:
            # 32 KiB ≈ 1.3k (tree,hash,id) rows, near the default
            # bucket cap, measured 93.8 -> 67.0 ms/q on the 1M
            # lsh-local probe vs 256 KiB.
            self.buckets.repartitionByRange(8, "tree")
            .sortWithinPartitions("tree", "hash")
            .write.mode("overwrite")
            .option("parquet.block.size", 32 << 10)
            .option("parquet.page.size", 64 << 10)
            .partitionBy("tree")
            .parquet(f"{path}/buckets")
        )
        (
            # id-sorted with modest row groups so candidate fetches
            # (`id IN (...)`) skip row groups instead of scanning the
            # table — the serving-store analog of the IVFADC vectors
            # layout (operators/pq.py ivfpq_save).
            self.vectors.repartitionByRange(8, "id")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .option("parquet.block.size", 512 << 10)
            .parquet(f"{path}/vectors")
        )
        # Build-time bucket-mass distribution (n_buckets rows, tiny):
        # the baseline streaming.maintain.bucket_staleness compares the
        # drifting store against. The reference has no incremental path
        # at all — Train clears and rebuilds (lsh/lsh.go:107-110);
        # persisting the baseline is what lets us DECIDE when that
        # rebuild is due. Aggregated from the JUST-WRITTEN parquet, not
        # self.bucket_stats(): the live buckets DF is usually uncached
        # lineage through the hashing UDF, and re-running it would
        # double the whole index-build cost. The refresh guards
        # re-saves over a path this session already read (maintain's
        # rebuild) against a stale file-listing cache.
        spark.catalog.refreshByPath(f"{path}/buckets")
        (
            spark.read.parquet(f"{path}/buckets")
            .groupBy("tree", "hash")
            .agg(F.count(F.lit(1)).alias("sz"))
            .write.mode("overwrite")
            .parquet(f"{path}/build_stats")
        )

    @staticmethod
    def load_forest(spark: SparkSession, path: str) -> Forest:
        """Load just the tree model (the reference's LoadHasher half).
        Reads the parquet node-table format; falls back to the legacy
        single-JSON-line 'model' dir for indexes saved before it."""
        import os

        if os.path.exists(os.path.join(path, "model_nodes")):
            if "://" not in path:
                # local store: the model is KBs — read it driver-side
                # (read_forest) instead of scheduling two Spark collect
                # jobs per index load (guide §5). A part the plain
                # reader cannot read or parse (absent/empty/compressed
                # config parts — ADVICE r11) falls through, logged, to
                # the Spark reader below, which handles every layout
                # Spark itself can write; any other error is a bug and
                # propagates.
                import pyarrow as pa

                try:
                    return read_forest(path)
                except (OSError, ValueError, KeyError, pa.ArrowInvalid) as exc:
                    reason = f"{type(exc).__name__}: {exc}"
                logging.getLogger(__name__).warning(
                    "driver-side LSH model read of %s failed (%s); "
                    "falling back to the Spark reader", path, reason,
                )
            cfg_json = spark.read.json(f"{path}/model_config").collect()[0][
                "config_json"
            ]
            rows = spark.read.parquet(f"{path}/model_nodes").collect()
            return Forest.from_node_rows(LshConfig(**json.loads(cfg_json)), rows)
        model_json = spark.read.json(f"{path}/model").collect()[0]["model_json"]
        return Forest.from_json(model_json)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LshIndex":
        from vector_search_go_spark.streaming.delete import mask_tombstones

        from vector_search_go_spark.io import read_parquet_cached

        forest = cls.load_forest(spark, path)
        buckets = mask_tombstones(
            spark,
            path,
            read_parquet_cached(spark, f"{path}/buckets").select(
                F.col("tree").cast("int"), "hash", "id"
            ),
        )
        vectors = mask_tombstones(
            spark, path, read_parquet_cached(spark, f"{path}/vectors")
        )
        return cls(forest.config, forest, vectors, buckets)


def read_config(path: str) -> LshConfig:
    """The saved config of a local LSH store, read without Spark: the
    first ``config_json`` line of ``{path}/model_config``.
    FileNotFoundError when no config line exists; parse errors raise."""
    cfg = parse_meta_files(meta_files(path, "model_config"), "config_json")
    if cfg is None:
        raise FileNotFoundError(f"no model_config JSON line under {path}")
    return LshConfig(**cfg)


def read_forest(path: str) -> Forest:
    """The saved tree model of a local LSH store, read without Spark:
    read_config plus the ``{path}/model_nodes`` table. The one
    driver-side model read of the serving readers and
    LshIndex.load_forest."""
    import os

    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(path, "model_nodes")).to_pylist()
    return Forest.from_node_rows(read_config(path), rows)
