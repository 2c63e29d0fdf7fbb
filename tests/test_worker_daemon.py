"""The engine's Python worker daemon (``_worker_daemon``): its zip
importers re-read an archive only when the archive changed, and a
session from ``get_spark`` forks every worker from it, whatever the
driver's cwd and PYTHONPATH."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from se_data_pipeline_spark import _worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Reads are counted over an invalidation and the lookup after it:
    up to CPython 3.12 ``invalidate_caches`` re-reads the directory at
    once, from 3.13 it drops the cached one and the next lookup re-reads."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m_a": "A = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    # restored after the test: install() replaces the class attribute
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("m_a").A == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)
        _worker_daemon.install()
        importer.invalidate_caches()  # the first call stamps the importer
        assert importer.find_spec("m_a") is not None
        reads.clear()
        for _ in range(2):
            importer.invalidate_caches()
            assert importer.find_spec("m_a") is not None
        assert reads == []

        _write_zip(archive, {"m_a": "A = 1\n", "m_b": "B = 2\n"})
        importer.invalidate_caches()
        assert importlib.import_module("m_b").B == 2
        assert reads == [archive]
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("m_a", None)
        sys.modules.pop("m_b", None)


_WORKER_SCRIPT = """
import json
import sys

sys.path.insert(0, {root!r})

import pandas as pd

from se_data_pipeline_spark.queries.text import _mh_band_rows
from se_data_pipeline_spark.session import get_spark

texts = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "a completely different sentence with enough tokens here",
]


def invalidate_module(batches):
    import zipimport

    for _ in batches:
        yield pd.DataFrame(
            {{"m": [zipimport.zipimporter.invalidate_caches.__module__]}}
        )


spark = get_spark("worker_daemon_test", master="local[2]", shuffle_partitions=2)
try:
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = docs.mapInPandas(
        _mh_band_rows, "doc_id long, band long, sig string"
    ).collect()
    want = pd.concat(
        _mh_band_rows([pd.DataFrame({{"doc_id": range(3), "text": texts}})])
    )
    module = docs.limit(1).mapInPandas(invalidate_module, "m string").first().m
    print(json.dumps({{
        "rows": sorted([r.doc_id, r.band, r.sig] for r in got),
        "want": sorted([int(d), int(b), s] for d, b, s in want.itertuples(index=False)),
        "module": module,
    }}))
finally:
    spark.stop()
"""


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    """A driver run outside the repo, with the engine only on its own
    sys.path: the workers still import the engine (the MinHash band
    kernel) and are forked from the engine's daemon."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(_WORKER_SCRIPT.format(root=ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["rows"]) == 12
    assert out["rows"] == out["want"]
    assert out["module"] == "se_data_pipeline_spark._worker_daemon"
