"""The engine's Python worker daemon: ``pyspark.daemon`` with zip
importers that re-read an archive only when it changed.

``session.get_spark`` selects this module with
``spark.python.daemon.module``; the JVM runs it as
``python -m se_data_pipeline_spark._worker_daemon <worker module>``
and every Python worker is forked from it.

Why: at the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Up to CPython 3.12 each
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once, and a worker holds one importer per package path
inside ``pyspark.zip`` (1,328 entries) and the py4j zip. That costs a
reused worker about 0.2 s of CPU per task, against a few ms for a small
kernel. CPython 3.13 made the invalidation lazy, but it still drops the
archive's cached directory, so the next import from ``pyspark.zip``
re-reads it all the same; the replacement is installed on every version.

The replacement keeps, on each importer, the ``(st_mtime_ns, st_size)``
of the archive it last read, and re-reads only when the archive's stamp
differs. A rewritten zip, or a py-file newly added to ``sys.path``, is
still picked up. pyspark reads ``sys.argv[1]`` (the worker module) when
``pyspark.daemon`` is imported, so UDTF and other worker modules run
unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's stamp equals the one this importer last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _reread(self)
    self._read_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` for this process and the
    workers forked from it."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def main() -> None:
    install()
    # importing pyspark.daemon imports the worker module named by sys.argv[1]
    from pyspark.daemon import manager

    # stamp every zip importer once here, so forked workers start stamped
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # run through the package import, so the installed function belongs
    # to ``se_data_pipeline_spark._worker_daemon`` and not ``__main__``
    from se_data_pipeline_spark._worker_daemon import main as _main

    _main()
