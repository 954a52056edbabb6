"""Print the FINAL adaptive physical plan (post-execution) for named queries.

Each query runs once through :func:`final_plan`, which returns the plan of
the execution that ran (``isFinalPlan=true``).

Usage: python tools/final_plan.py [--sf DIR] name [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from engine.session import get_spark  # noqa: E402


def final_plan(df: DataFrame) -> str:
    """Run ``df`` once and return the final physical plan of that run
    (``AdaptiveSparkPlan isFinalPlan=true`` when AQE re-planned it).

    The run is a ``noop`` write: every row is computed and none reaches the
    driver.  The write executes its own QueryExecution, so the plan is read
    from the SQL status store entry of that execution; ``df``'s own
    QueryExecution never runs and would still show ``isFinalPlan=false``.
    """
    spark = df.sparkSession
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution():
        execs = store.executionsList()  # ordered by execution id
        return execs.apply(execs.size() - 1) if execs.size() else None

    before = last_execution()
    df.write.format("noop").mode("overwrite").save()
    # the status store is filled by a listener: wait for the final-plan event
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ran = last_execution()
    if ran is None or (before is not None and ran.executionId() <= before.executionId()):
        raise RuntimeError("the noop write left no SQL execution in the status store")
    return ran.physicalPlanDescription()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None, help="write DIR/<name>_final.txt instead of stdout")
    args = ap.parse_args()

    spark = get_spark(app_name="final-plan",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    from queries import SPARK_QUERIES

    for name in args.names:
        plan = final_plan(SPARK_QUERIES[name](spark, args.sf))
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            with open(os.path.join(args.out, f"{name}_final.txt"), "w") as f:
                f.write(plan)
            print(f"{name}: wrote {len(plan)} chars")
        else:
            print(f"===== {name} =====")
            print(plan)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
