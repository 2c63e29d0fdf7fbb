"""Tail-query decomposition (VERDICT r12 item 8): noop-sink timing
(guide §1.4) + per-stage executorRunTime attribution from the REST API
for the three head-of-former-tail queries."""
import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)

from se_data_pipeline_spark.session import get_spark

spark = get_spark("prof_tail", extra_conf={"spark.ui.enabled": "true"})
sc = spark.sparkContext
from se_data_pipeline_spark.queries import all_queries

qs = all_queries()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ui, app_id = sc.uiWebUrl, sc.applicationId


def stages():
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.load(r)


spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()

for name in sys.argv[1:]:
    samples = []
    for i in range(3):
        pre = {(s["stageId"], s["attemptId"]) for s in stages()}
        sc.setJobDescription(f"tail:{name}")
        t0 = time.perf_counter()
        (
            qs[name](spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        wall = time.perf_counter() - t0
        samples.append(round(wall, 3))
        if i == 2:
            post = stages()
            new = [
                s
                for s in post
                if (s["stageId"], s["attemptId"]) not in pre
            ]
            tot = sum(s.get("executorRunTime", 0) for s in new)
            print(f"{name}: noop walls={samples} min={min(samples)}")
            for s in sorted(
                new, key=lambda s: -s.get("executorRunTime", 0)
            )[:6]:
                frac = (
                    100.0 * s.get("executorRunTime", 0) / tot
                    if tot
                    else 0
                )
                print(
                    f"  stage {s['stageId']:5d} run_ms="
                    f"{s.get('executorRunTime',0):7d} ({frac:4.1f}%) "
                    f"tasks={s.get('numCompleteTasks',0):3d} "
                    f"{s.get('description') or s.get('name','')[:80]}",
                    flush=True,
                )
