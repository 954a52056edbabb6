"""Per-query profiler for the optimization rounds.

For each named query: time the DataFrame BUILD (python/py4j expression
construction) separately from EXECUTION (noop-sink force), over N passes,
and optionally dump the final physical plan of one more run to a file
(:func:`tools.final_plan.final_plan`).

Usage:
    python tools/profile_queries.py [--sf DIR] [--passes N] [--plans OUTDIR] q1 q2 ...
    python tools/profile_queries.py --headline          # the bench headline pack
    python tools/profile_queries.py --top-secondary     # expensive secondary names

Prints one JSON line per query:
    {"query": name, "build_sec": [...], "exec_sec": [...],
     "build_med": b, "exec_med": e}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark  # noqa: E402
from tools.final_plan import final_plan  # noqa: E402


def median(xs):
    s = sorted(xs)
    return s[len(s) // 2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump the final plan per query to DIR/<name>.txt")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    spark = get_spark(app_name="profile-queries",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from queries import SPARK_QUERIES

    names = list(args.names)
    if args.headline:
        import bench

        names = bench.HEADLINE + names

    # warm-up: identical plan shapes at tiny SF so codegen/planner caches are
    # hot (same policy as bench.py) — we are profiling data-proportional cost
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        SPARK_QUERIES[name](spark, args.warm_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    for name in names:
        fn = SPARK_QUERIES[name]
        builds, execs = [], []
        for _ in range(args.passes):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(round(t1 - t0, 4))
            execs.append(round(t2 - t1, 4))
            spark.catalog.clearCache()
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan = final_plan(fn(spark, args.sf))
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
        print(json.dumps({
            "query": name,
            "build_sec": builds,
            "exec_sec": execs,
            "build_med": median(builds),
            "exec_med": median(execs),
            "total_med": round(median(builds) + median(execs), 4),
        }), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
