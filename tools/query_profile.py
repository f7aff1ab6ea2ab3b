"""Per-query profiling harness.

Times individual registered queries via the noop sink (guide §1.4),
records the Spark JOB COUNT each execution submits (the local-mode
cost driver for the iterative/artifact queries — every job is a
driver round-trip, and at sf0.1 the data is small enough that job
submission dominates several multi-second queries), and optionally
dumps `explain("formatted")` to plans/<TAG>/<query>.txt.

Usage:
  python tools/query_profile.py [--runs N] [--plans TAG] query [query ...]

Reads the tables under $SPARK_GRAFT_SF_DIR (bench.py's sf0.1 default).

Prints one JSON line per query:
  {"query": ..., "best_sec": ..., "times": [...], "jobs_last_run": N}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write explain() to plans/<TAG>/")
    args = ap.parse_args()

    from dww_data_pipeline_spark.plans.registry import all_queries
    from dww_data_pipeline_spark.session import get_spark

    spark = get_spark("query_profile")
    queries = all_queries()
    # warm up JVM + parquet footers (untimed)
    queries["a10_distinct"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    tracker = spark.sparkContext.statusTracker()

    def max_job_id() -> int:
        ids = tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    for name in args.queries:
        q = queries[name]
        times = []
        jobs_used = None
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"query_profile:{name}:{r}")
            j0 = max_job_id()
            t0 = time.perf_counter()
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            jobs_used = max_job_id() - j0
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            plan_dir = os.path.join(REPO, "plans", args.plans)
            os.makedirs(plan_dir, exist_ok=True)
            df = q(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
        print(
            json.dumps(
                {
                    "query": name,
                    "best_sec": min(times),
                    "times": times,
                    "jobs_last_run": jobs_used,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
