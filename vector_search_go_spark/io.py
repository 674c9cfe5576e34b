"""Table loading.

Replaces the reference's HDF5 scan + dataset prep
(annbench/annbench.go:189-293, SURVEY.md section 2 O24/O25): the driver
supplies parquet, so ``spark.read.parquet`` is the whole story. Column
pruning and filter pushdown reach the parquet scan for free because every
operator stays in the DataFrame API. Also the Spark-free reader of the
one-line JSON meta tables (store_meta, shards_meta, model_config) that
the serving readers, the LSH model load and the IVFADC store share.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Reader-plan memo: ``spark.read.parquet`` costs ~170 ms of driver-side
# py4j + schema/file-listing work per call on this harness, and a query
# invocation touches 1-4 tables — a fixed tax the cluster never sees.
# The memo stores the LAZY DataFrame (an unexecuted plan): every action
# still scans the parquet files, so no rows or results are ever reused —
# this is the session-scoped analog of Spark's own
# filesourcePartitionFileCacheSize listing cache (guide §6). Keyed by
# (session, path, mtime): a rewritten file (model stores, test fixtures)
# or a new session re-reads; entries are plans, KBs each.
_READ_MEMO: dict[str, tuple] = {}


def _path_stamp(path: str) -> tuple:
    """Cheap change detector for a parquet file/dir: the newest mtime,
    file count and total byte size over the dir entry and every file
    beneath it (ADVICE r11: an in-place rewrite landing within mtime
    resolution must still invalidate). Subdirectories are walked, so a
    ``partitionBy`` store (the LSH ``buckets`` table's ``tree=N/``
    dirs) invalidates on a file added to one partition even when
    ``_SUCCESS`` is not rewritten. One scandir per directory per read
    is the cost."""
    st = os.path.getmtime(path)
    n_files = 0
    total = 0
    if not os.path.isdir(path):
        return (st, 0, os.path.getsize(path))
    dirs = [path]
    while dirs:
        with os.scandir(dirs.pop()) as it:
            for e in it:
                if e.is_dir():
                    dirs.append(e.path)
                    st = max(st, e.stat().st_mtime)
                elif e.is_file():
                    s = e.stat()
                    n_files += 1
                    total += s.st_size
                    st = max(st, s.st_mtime)
    return (st, n_files, total)


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the plan memoized per (session, path,
    mtime) — see _READ_MEMO. Use for paths the current process does not
    rewrite mid-plan; fall back to a plain read otherwise."""
    try:
        stamp = _path_stamp(path)
    except OSError:
        return spark.read.parquet(path)
    ent = _READ_MEMO.get(path)
    if ent is not None and ent[0] is spark and ent[1] == stamp:
        return ent[2]
    df = spark.read.parquet(path)
    _READ_MEMO[path] = (spark, stamp, df)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts has shipped in two physical layouts: TIMESTAMP(NANOS)
        # (unreadable without nanosAsLong; truncate to micros like DuckDB
        # does) and TIMESTAMP(MICROS) without UTC adjustment (arrives as
        # TIMESTAMP_NTZ). Normalize both to a session-tz (UTC) timestamp
        # so every downstream window/watermark/comparison sees one type.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_cached(spark, f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")


# Partition-count memo for ensure_parallelism: df.rdd.getNumPartitions()
# costs ~23 ms of plan->RDD conversion per call and queries probe the
# same scan shapes every invocation; the analyzed plan's semanticHash
# (~2 ms) keys the memoized count. Only the repartition DECISION depends
# on it (results are partitioning-independent), so a stale entry after a
# file rewrite can at worst change plan shape, never values.
_PARTS_MEMO: dict[tuple, int] = {}


def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Spread a DataFrame across the cluster's cores before CPU-heavy
    narrow transforms (md5 sweeps, per-row vector math).

    Small single-file inputs arrive as ONE split — on local[32] that
    serializes 7M-hash projections onto one core. At 100 TB inputs have
    thousands of splits and this is a no-op (the guard keeps it from
    inserting a pointless full shuffle on large inputs)."""
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    try:
        key = (
            id(df.sparkSession),
            int(df._jdf.queryExecution().analyzed().semanticHash()),
        )
    except Exception:
        key = None
    n = _PARTS_MEMO.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_PARTS_MEMO) > 4096:
                _PARTS_MEMO.clear()
            _PARTS_MEMO[key] = n
    if n < target:
        return df.repartition(target)
    return df


def footer_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata — no Spark job. The
    local stand-in for a catalog/statistics lookup: use for SIZING
    decisions (bloom bitmaps, broadcast thresholds), never for answers.
    At scale the same number comes from table stats, not file footers."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so queries can use spark.sql."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Generic sources/sinks. The reference's only formats are HDF5 in and an
# in-memory KV store (SURVEY.md section 2 O24/O27); Spark's datasource
# API gives every format below for free — exposed here so the engine has
# an explicit, tested source/sink surface.
# ---------------------------------------------------------------------------

FORMATS = ("parquet", "csv", "json", "orc")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    for k, v in options.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles data by key at write time: two tables
    bucketed on the same key with the same bucket count join WITHOUT a
    shuffle exchange — the physical layout the big fact-fact joins
    (orders x lineitem on orderkey) want at 100 TB. Verified by plan
    inspection in tests/test_bucketing.py."""
    spark = df.sparkSession
    # A leftover warehouse directory from a previous session is not in
    # this session's (in-memory) catalog, so saveAsTable(overwrite)
    # refuses with LOCATION_ALREADY_EXISTS instead of replacing it.
    # Drop the catalog entry AND clear the orphaned location first.
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        # The orphan-cleanup path math only holds for unqualified names
        # in a local-filesystem warehouse (Spark lays out qualified
        # 'db.tbl' as warehouse/db.db/tbl, and non-file warehouses
        # aren't reachable via os paths) — skip it otherwise rather
        # than rmtree the wrong location.
        if "." not in table_name and (
            "://" not in warehouse or warehouse.startswith("file:")
        ):
            loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
            if os.path.isdir(loc):
                shutil.rmtree(loc)
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: str | None = None, **options: str
) -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {FORMATS}")
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true")
        # schema strongly recommended for csv: inference re-reads the data
        r = r.option("inferSchema", "false" if schema else "true")
    if schema:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def meta_files(path: str, sub: str = "store_meta") -> list[str]:
    """The JSON part files of a one-line meta table under ``{path}/{sub}``,
    deduplicated (``*.json`` and ``part-*`` both match Spark's
    ``part-...json`` output) and sorted. Shared by every meta reader —
    store_meta, shards_meta, and the shortlist memo key."""
    return sorted(
        set(
            glob.glob(os.path.join(path, sub, "*.json"))
            + glob.glob(os.path.join(path, sub, "part-*"))
        )
    )


def parse_meta_files(files: list[str], key: str = "meta_json") -> dict | None:
    """First ``key`` payload (a JSON string column) in ``files``; None
    when no file holds a line. Parse errors raise (absence !=
    unreadable)."""
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    return json.loads(json.loads(line)[key])
    return None
