"""SparkSession builder for tests/bench (local mode).

On a real cluster the caller owns the session; these defaults matter only
for the local[N] harness. AQE stays on so skewed bucket joins re-plan at
runtime — the knob that matters at 100 TB.

Python workers start from ``worker_daemon`` rather than
``pyspark.daemon``. Before every task pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
and on CPython 3.11 that makes every ``zipimport.zipimporter`` re-read
its archive's central directory (3.12 made the re-read lazy,
gh-103200). A reused worker holds 16 such importers: 12 over
``pyspark.zip`` (1,328 entries), 2 over the py4j zip and 2 over the
spark-core jar (5,359 entries). On a 4-core box that cost 0.13-0.23 s
of worker CPU per task before the UDF ran, and a one-partition RDD
``map`` took 0.18-0.19 s (best of 3). ``worker_daemon`` re-reads an
archive only when its ``(st_mtime_ns, st_size)`` stamp changed: 0.01-0.02
s of worker CPU per task, and that ``map`` takes 0.09 s. On CPython >=
3.12 it patches nothing and only starts ``pyspark.daemon``. The
package's parent directory goes on the executors' ``PYTHONPATH`` so the
daemon module imports wherever the driver runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.python.daemon.module", "vector_search_go_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
