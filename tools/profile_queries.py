"""Per-query profiler — the iterate-on-performance loop. For each
query: one untimed warm-up run under a Spark job group, whose job
count is reported (a host-noise-immune measure of driver job
round-trips, overlapped pool-thread jobs included) next to the CPU
that the run took in the Python workers (``py_cpu``, the Arrow/Python
boundary plus the kernels; ``n/a`` when that sum went backwards),
then min-of-N timed runs with toPandas
materialization (the bench's methodology), and optionally the
formatted physical plan.

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

from perfbench.spans import python_cpu_s
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
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    qs = all_queries()
    # the bench worker's untimed JVM/codegen warm-up, and one Python
    # task per core so worker start-up is not charged to the first
    # query with a Python node
    spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()
    spark.range(0, 1000, numPartitions=sc.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.queries or list(qs):
        group = f"profile:{name}"
        sc.setJobGroup(group, name)
        cpu0 = python_cpu_s(jvm_pid)
        try:
            df = qs[name](spark, args.sf_dir)
            rows = len(df.toPandas())
        finally:
            sc._jsc.clearJobGroup()
        py_cpu = python_cpu_s(jvm_pid) - cpu0
        # the sum can go backwards when a worker's CPU leaves it; such
        # a reading says nothing about the query
        py_cpu_txt = f"{py_cpu:.2f}s" if py_cpu >= 0 else "n/a"
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
            f"{name:40s} {best}jobs={n_jobs}  py_cpu={py_cpu_txt}  "
            f"rows={rows}  samples={samples}",
            flush=True,
        )


if __name__ == "__main__":
    main()
