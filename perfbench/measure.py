"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import math
import resource
import statistics
import time


def tail(samples: list[float]) -> tuple[float, float, int]:
    """p90, or the highest percentile that still has at least ten
    samples beyond it when there are fewer than 100: returns (value,
    percentile, sample count). Above p90 the lookups of a serving run
    are threaded IVFADC ones whose delay follows the load of the shared
    host: over ten runs on a busy 4-core box their p95 spread 0.29 of
    its median, p90 0.19, as wide as the run's total time. With fewer
    than 20 samples no such percentile above the median exists, so the
    maximum is returned with percentile 100."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    if n < 20:
        return xs[-1], 100.0, n
    # rank r (1-based) leaves n - r samples above it; keep n - r >= 10
    r = min(n - 10, math.ceil(0.90 * n))
    return xs[r - 1], 100.0 * r / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def peak_rss_mb() -> float:
    """Peak resident set size of this (driver) process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _python_loop() -> int:
    s = 0
    for i in range(1_000_000):
        s += i * i
    return s


def calibration(spark) -> dict:
    """Fixed-work probes, those of ``bench._calibration``: a pinned
    numpy matmul (BLAS / memory speed; 1024 square, since the benchmark
    runs BLAS on one thread) and a pinned trivial Spark job (scheduler
    speed), plus a pure-Python loop (interpreter speed), min of 3 each.
    Only wall time varies with the state of the machine, so a pre/post
    pair shows drift within a run."""
    import numpy as np

    t_py = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        _python_loop()
        t_py = min(t_py, time.perf_counter() - t0)
    rng = np.random.default_rng(0)
    a = rng.standard_normal((1024, 1024))
    t_np = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ a).sum()
        t_np = min(t_np, time.perf_counter() - t0)
    t_sp = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1)").collect()
        t_sp = min(t_sp, time.perf_counter() - t0)
    return {"numpy_matmul_s": t_np, "spark_job_s": t_sp, "python_loop_s": t_py}


def recall_at_k(got, truth) -> float:
    """|got ∩ truth| / |truth| for one query."""
    truth = set(int(i) for i in truth)
    return len(truth & set(int(i) for i in got)) / len(truth)
