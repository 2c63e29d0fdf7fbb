"""Diagnose dedup_method_recall_report's bimodality (guide §7.1/§7.3).

Runs the query N times in ONE JVM at sf0.1. For each run records:
  - wall seconds
  - per-run Spark stage deltas from the UI REST API: total
    executorRunTime, jvmGcTime, shuffle read/write bytes, task count
  - 'job gap' time: wall - sum(stage executorRunTime scaled by cores)
    is crude, so instead we poll activeJobIds() from a sampler thread
    at 50 Hz and integrate the time with ZERO active jobs (driver-side
    planning/analysis time).
On a bad sample (>2x min so far), dumps the 5 slowest stages and a
py-spy-style driver JVM threadprint is skipped (sample already over);
the zero-active integral tells us driver vs executor.
"""
import json
import os
import sys
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 12
from se_data_pipeline_spark.session import get_spark

spark = get_spark(
    "prof_dedup_bimodal", extra_conf={"spark.ui.enabled": "true"}
)
sc = spark.sparkContext
from se_data_pipeline_spark.queries import all_queries

qs = all_queries()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ui = sc.uiWebUrl
app_id = sc.applicationId


def stages():
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.load(r)


class Sampler(threading.Thread):
    def __init__(self):
        super().__init__(daemon=True)
        self.stop = False
        self.zero_active = 0.0
        self.tracker = sc.statusTracker()

    def run(self):
        prev = time.time()
        while not self.stop:
            time.sleep(0.02)
            now = time.time()
            try:
                if not self.tracker.getActiveJobsIds():
                    self.zero_active += now - prev
            except Exception:
                pass
            prev = now


# warmup (codegen + catalog)
spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()

results = []
seen_stage_ids = set()
for i in range(N):
    pre = {(s["stageId"], s["attemptId"]) for s in stages()}
    samp = Sampler()
    samp.start()
    t0 = time.time()
    qs["dedup_method_recall_report"](spark, sf_dir).toPandas()
    wall = time.time() - t0
    samp.stop = True
    samp.join(timeout=1)
    post = stages()
    new = [s for s in post if (s["stageId"], s["attemptId"]) not in pre]
    tot_run = sum(s.get("executorRunTime", 0) for s in new) / 1000.0
    tot_gc = sum(s.get("jvmGcTime", 0) for s in new) / 1000.0
    tot_cpu = sum(s.get("executorCpuTime", 0) for s in new) / 1e9
    tot_tasks = sum(s.get("numCompleteTasks", 0) for s in new)
    sh_r = sum(s.get("shuffleReadBytes", 0) for s in new)
    sh_w = sum(s.get("shuffleWriteBytes", 0) for s in new)
    row = dict(
        i=i,
        wall=round(wall, 2),
        zero_active=round(samp.zero_active, 2),
        n_stages=len(new),
        tasks=tot_tasks,
        exec_run_s=round(tot_run, 1),
        exec_cpu_s=round(tot_cpu, 1),
        gc_s=round(tot_gc, 1),
        shuffle_mb=round((sh_r + sh_w) / 1e6, 1),
    )
    results.append(row)
    print(json.dumps(row), flush=True)
    walls = [r["wall"] for r in results]
    if wall > 2 * min(walls):
        slow = sorted(
            new,
            key=lambda s: -(s.get("executorRunTime", 0)),
        )[:6]
        for s in slow:
            print(
                "  SLOW-STAGE",
                s["stageId"],
                s.get("name", "")[:90],
                "run_ms=",
                s.get("executorRunTime"),
                "gc_ms=",
                s.get("jvmGcTime"),
                "tasks=",
                s.get("numCompleteTasks"),
                "submit->complete=",
                s.get("firstTaskLaunchedTime"),
                s.get("completionTime"),
                flush=True,
            )

walls = sorted(r["wall"] for r in results)
print("WALLS", walls)
print(
    "min", walls[0], "median", walls[len(walls) // 2], "max", walls[-1]
)
