"""SparkSession builder for tests/bench (local mode).

On a real cluster the caller owns the session; these defaults matter only
for the local[N] harness. AQE stays on so skewed bucket joins re-plan at
runtime — the knob that matters at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "vector_search_go_spark", cpus: int | None = None) -> SparkSession:
    """Local-mode session on ``local[cpus]``. ``cpus`` defaults to
    $SPARK_GRAFT_CPUS, else the machine's core count — this is the one
    reader of that variable, so tools and the bench run on the same
    core count."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Serving scans push `hash IN (...)`/`id IN (...)` lists of up
        # to ~2x batch x trees values into sorted parquet; above this
        # threshold Spark degrades the pushed filter to a [min, max]
        # range, which defeats row-group skipping on hash-spread keys.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
