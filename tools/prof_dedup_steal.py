"""Correlate dedup_method_recall_report wall time with host CPU-steal:
sample /proc/stat at 1 Hz in a thread; per run, report mean/max steal%
during the run. If bad walls coincide with steal spikes, the bimodal
mode is hypervisor CPU steal, not the query."""
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10


def read_stat():
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = list(map(int, f[1:]))
    total = sum(vals)
    steal = vals[7]
    busy = total - vals[3] - vals[4]  # minus idle, iowait
    return total, steal, busy


class StealSampler(threading.Thread):
    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []  # (steal_pct, busy_pct) per tick
        self.stop = False

    def run(self):
        prev = read_stat()
        while not self.stop:
            time.sleep(1)
            cur = read_stat()
            dt = cur[0] - prev[0]
            if dt > 0:
                self.samples.append(
                    (
                        100.0 * (cur[1] - prev[1]) / dt,
                        100.0 * (cur[2] - prev[2]) / dt,
                    )
                )
            prev = cur


from se_data_pipeline_spark.session import get_spark

spark = get_spark("prof_dedup_steal")
from se_data_pipeline_spark.queries import all_queries

qs = all_queries()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()

for i in range(N):
    samp = StealSampler()
    samp.start()
    t0 = time.time()
    qs["dedup_method_recall_report"](spark, sf_dir).toPandas()
    wall = time.time() - t0
    samp.stop = True
    samp.join(timeout=2)
    st = [s for s, _ in samp.samples] or [0.0]
    bz = [b for _, b in samp.samples] or [0.0]
    print(
        f"run {i}: wall={wall:6.2f}s steal_mean={sum(st)/len(st):5.1f}% "
        f"steal_max={max(st):5.1f}% busy_mean={sum(bz)/len(bz):5.1f}%",
        flush=True,
    )
