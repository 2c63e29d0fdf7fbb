"""Per-query profiler — the iterate-on-performance loop. For each
query: one untimed warm-up run under a Spark job group, whose job
count is reported (a host-noise-immune measure of driver job
round-trips, overlapped pool-thread jobs included), then min-of-N
timed runs with toPandas materialization (the bench's methodology),
and optionally the formatted physical plan.

Usage:
    python tools/profile_queries.py [--n N] [--plans DIR] sf_dir [query ...]

No query names = every registered query. ``--n 0`` skips the timed
runs (job counts and plan dumps only). ``--plans DIR`` writes
``DIR/<query>.txt`` with ``explain("formatted")``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from se_data_pipeline_spark.queries import all_queries
from se_data_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--n", type=int, default=2, help="timed runs per query")
    ap.add_argument("--plans", metavar="DIR", help="dump formatted plans")
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("profile")
    sc = spark.sparkContext
    qs = all_queries()
    # the bench worker's untimed JVM/codegen warm-up
    spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.queries or list(qs):
        group = f"profile:{name}"
        sc.setJobGroup(group, name)
        try:
            df = qs[name](spark, args.sf_dir)
            rows = len(df.toPandas())
        finally:
            sc._jsc.clearJobGroup()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if args.plans:
            path = os.path.join(args.plans, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(
                    df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                )
        samples = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).toPandas()
            samples.append(round(time.perf_counter() - t0, 3))
        best = f"min={min(samples):8.3f}s  " if samples else ""
        print(
            f"{name:40s} {best}jobs={n_jobs}  rows={rows}  "
            f"samples={samples}",
            flush=True,
        )


if __name__ == "__main__":
    main()
