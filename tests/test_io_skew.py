"""Sources/sinks round-trips + skew-handling utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_go_spark.io import FORMATS, read_table, table, write_table
from vector_search_go_spark.operators.skew import salted_count, salted_join, salted_sum


@pytest.mark.parametrize("fmt", FORMATS)
def test_write_read_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_table(src, path, fmt=fmt)
    schema = "n_nationkey int, n_name string, n_regionkey int" if fmt == "csv" else None
    back = read_table(spark, path, fmt=fmt, schema=schema)
    assert sorted(back.columns) == sorted(src.columns)
    a = {tuple(r) for r in src.select(*sorted(src.columns)).collect()}
    b = {tuple(r) for r in back.select(*sorted(src.columns)).collect()}
    assert a == b


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    src = table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    write_table(
        src.withColumn("yr", F.year("o_orderdate")), path, partition_by=["yr"]
    )
    back = read_table(spark, path)
    one_year = back.filter(F.col("yr") == 1997)
    # partition pruning: the scan should carry the partition filter
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert one_year.count() == src.filter(F.year("o_orderdate") == 1997).count()
    assert "PartitionFilters: [isnotnull(yr" in plan or "yr#" in plan


def test_read_cache_sees_file_added_to_partition(spark, tmp_path):
    """A file landing in an existing ``tree=N/`` partition dir changes
    neither the store dir's mtime nor ``_SUCCESS``; the stamp must
    still change, so read_parquet_cached re-reads the store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_search_go_spark.io import _path_stamp, read_parquet_cached

    path = str(tmp_path / "buckets")
    spark.createDataFrame(
        [(0, 1, 10), (1, 2, 20)], "tree int, hash long, id long"
    ).write.partitionBy("tree").parquet(path)
    assert read_parquet_cached(spark, path).count() == 2
    before = _path_stamp(path)
    pq.write_table(
        pa.table({"hash": pa.array([3], pa.int64()), "id": pa.array([30], pa.int64())}),
        f"{path}/tree=0/part-extra.parquet",
    )
    assert _path_stamp(path) != before
    assert read_parquet_cached(spark, path).count() == 3


def _skewed_df(spark):
    # 10k rows of one hot key + 100 rows spread over 10 keys
    hot = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 10).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    return hot.unionAll(cold)


def test_salted_count_matches_plain(spark):
    df = _skewed_df(spark)
    got = {r["k"]: r["n"] for r in salted_count(df, ["k"]).collect()}
    want = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == want


def test_salted_sum_matches_plain(spark):
    df = _skewed_df(spark)
    got = {r["k"]: r["total"] for r in salted_sum(df, ["k"], "v").collect()}
    want = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == want


def test_salted_join_rejects_right_and_full(spark):
    df = _skewed_df(spark)
    small = spark.createDataFrame([("hot", 1)], "k string, tag int")
    for how in ("full", "right", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, small, on="k", how=how)


def test_salted_join_matches_plain(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("c1", 2), ("c9", 3), ("absent", 4)], "k string, tag int"
    )
    got = salted_join(big, small, on="k").groupBy("k", "tag").count()
    want = big.join(small, on="k").groupBy("k", "tag").count()
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}