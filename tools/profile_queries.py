"""Per-query profiling for the optimization rounds (guide §1).

For each named headline query (default: all), after one untimed warm
pass (model caches hot, JVM warm), times 3 calls and reports the one
with the median total (a single timed call moves by about a quarter
between runs of the same tree):

  - build_s:  time for fn(spark, sf_dir) to RETURN the DataFrame —
              driver-side construction, including any model collects
  - exec_s:   time for the bench action (count / recall reduction)
  - jobs:     Spark jobs launched during the first timed invocation
  - stages:   stages launched by those jobs

A timed call that launches a different number of jobs than the first
raises: the entry's plan is not stable, so its timings do not compare.

Prints one JSON line per query to stdout.  Run:
    python tools/profile_queries.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from vector_search_go_spark import registry
    from vector_search_go_spark.session import get_spark

    import bench

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = sys.argv[1:] or bench.HEADLINE

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()

    for name in names:
        fn = qs.get(name)
        if fn is None:
            continue
        is_gate = name.startswith("lsh_recall") or name.endswith("_recall_vs_exact")

        def run_once():
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t1 = time.time()
            if is_gate:
                from vector_search_go_spark.operators.recall import (
                    mean_precision_recall,
                )

                mean_precision_recall(df)
            else:
                df.count()
            t2 = time.time()
            return t1 - t0, t2 - t1

        spark.sparkContext.setJobDescription(f"warm:{name}")
        run_once()  # warm pass: models cached, code paths JITed
        spark.sparkContext.setJobDescription(f"profile:{name}")
        calls = []
        for _ in range(3):
            jobs0 = set(tracker.getJobIdsForGroup(None))
            build, exe = run_once()
            new_jobs = sorted(set(tracker.getJobIdsForGroup(None)) - jobs0)
            calls.append((build + exe, build, exe, new_jobs))
        new_jobs = calls[0][3]
        for *_, jobs in calls[1:]:
            if len(jobs) != len(new_jobs):
                raise RuntimeError(
                    f"{name}: timed calls launched {len(new_jobs)} and "
                    f"{len(jobs)} Spark jobs"
                )
        _, build_s, exec_s, _ = sorted(calls, key=lambda c: c[0])[1]  # median
        n_stages = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is not None:
                n_stages += len(ji.stageIds)
        print(
            json.dumps(
                {
                    "query": name,
                    "build_s": round(build_s, 3),
                    "exec_s": round(exec_s, 3),
                    "total_s": round(build_s + exec_s, 3),
                    "jobs": len(new_jobs),
                    "stages": n_stages,
                }
            ),
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
