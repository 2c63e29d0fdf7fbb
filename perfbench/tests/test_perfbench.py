"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

Run from the repository root. Each test starts Spark, so the module takes
a few minutes; it is not part of the engine's test suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402

DETERMINISTIC = (".jobs", ".tasks_per_op", ".jobs_per_op", ".jobs_per_batch", ".files_read", "layout.store_files")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_generator_is_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        corpus = gen.Corpus(vocab_size=500)
        gen.write_parquet(corpus.documents(gen._rng(7, "d"), 0, 300, 0.1, 0.1, 0.1, 0.1), f"{tmp_path}/{d}/docs.parquet")
        gen.write_parquet(gen.embeddings(gen._rng(7, "v"), gen.centers(7, 4), 0, 100, 0.1), f"{tmp_path}/{d}/vecs.parquet")
        gen.write_parquet(gen.recordings(7, 2, 2)[0], f"{tmp_path}/{d}/rec.parquet")
    assert gen.content_hash(f"{tmp_path}/a") == gen.content_hash(f"{tmp_path}/b")


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == layers.PER_LAYER
    for name, _u, _b in layers.PER_LAYER:
        layers.target(name)  # every metric names the end-to-end metric it moves


@pytest.mark.parametrize("workload", ["serve_maintain", "curate_probe"])
def test_same_seed_same_counters(workload):
    a, b = _traced(workload, 3)["metrics"], _traced(workload, 3)["metrics"]
    for name in a:
        if name.endswith(DETERMINISTIC):
            assert a[name]["value"] == b[name]["value"], name


def test_extra_collect_adds_exactly_one_job(tmp_path, monkeypatch):
    """Wrapping one layer call with an extra collect() raises that op's
    jobs counter by exactly one."""
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")]))
    from se_data_pipeline_spark.session import get_spark
    from se_data_pipeline_spark.sources import layout as L

    import run
    import spans as tr
    import workloads as W

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="perfbench-selftest",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    try:
        inputs = W.make_store_inputs(5, str(tmp_path), 1)
        t = tr.Tracer(spark, enabled=True)
        stores = W.Stores(spark, str(tmp_path))
        stores.build(t, f"{tmp_path}/in")
        req = next(r for r in inputs["serve"] if r["kind"] == "bm25")
        for _ in range(2):
            stores.serve(t, req, "plain", True)
        original = L.bm25_from_postings

        def with_extra_collect(*args, **kw):
            df = original(*args, **kw)
            df.collect()
            return df

        monkeypatch.setattr(L, "bm25_from_postings", with_extra_collect)
        for _ in range(2):
            stores.serve(t, req, "wrapped", True)
    finally:
        spark.stop()
        run.stop_processes()
    jobs, stages, sql = tr.read_event_log(str(log_dir))
    tr.attribute(jobs, t.ops())
    c = tr.OpCounters(jobs, stages, sql)
    plain = [c.n_jobs(o) for o in t.ops("plain")]
    wrapped = [c.n_jobs(o) for o in t.ops("wrapped")]
    assert len(set(plain)) == 1 and plain[0] > 0, plain
    assert wrapped == [plain[0] + 1] * 2, (plain, wrapped)
