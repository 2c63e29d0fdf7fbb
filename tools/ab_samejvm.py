"""Same-JVM paired A/B for the _overlap_writes change: alternate
SPARK_GRAFT_NO_OVERLAP per call inside ONE JVM so both arms see the
same host window. Usage: ab_samejvm.py <n_pairs> query [query ...]"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)

n_pairs = int(sys.argv[1])
names = sys.argv[2:]

from se_data_pipeline_spark.session import get_spark

spark = get_spark("ab_samejvm")
from se_data_pipeline_spark.queries import all_queries

qs = all_queries()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# codegen warmup
spark.range(2_000_000).selectExpr("sum(id % 97) AS s").toPandas()

for name in names:
    # one untimed warmup per arm
    for env in ("1", ""):
        os.environ["SPARK_GRAFT_NO_OVERLAP"] = env
        qs[name](spark, sf_dir).toPandas()
    res = {"seq": [], "ovl": []}
    for i in range(n_pairs):
        # alternate which arm goes first within the pair
        order = [("seq", "1"), ("ovl", "")]
        if i % 2 == 1:
            order.reverse()
        for arm, env in order:
            os.environ["SPARK_GRAFT_NO_OVERLAP"] = env
            t0 = time.time()
            qs[name](spark, sf_dir).toPandas()
            res[arm].append(round(time.time() - t0, 3))
    wins = sum(1 for a, b in zip(res["seq"], res["ovl"]) if b < a)
    print(
        f"{name}: seq={res['seq']} ovl={res['ovl']} "
        f"min seq={min(res['seq'])} ovl={min(res['ovl'])} "
        f"ovl_wins={wins}/{n_pairs}",
        flush=True,
    )
