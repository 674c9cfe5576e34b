"""Capture ``explain('formatted')`` for headline queries into text files.

Usage:
    python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the
bench HEADLINE list). Used to produce the plans/r11/*_before.txt /
*_after.txt evidence pairs for the optimization rounds.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from vector_search_go_spark import registry
    from vector_search_go_spark.session import get_spark

    import bench

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    if not names:
        names = list(bench.HEADLINE)

    for name in names:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # capture failures visibly, keep going
            plan = f"ERROR capturing plan: {e!r}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)", flush=True)


if __name__ == "__main__":
    main()
