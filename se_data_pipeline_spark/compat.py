"""Environment compatibility shims.

ensure_protobuf(): transformWithStateInPandas needs ``google.protobuf``
(the generated ``pyspark/sql/streaming/proto/StateMessage_pb2.py``
imports it — both in the driver AND inside every Python worker that
talks to the JVM state server). When the real protobuf distribution
is absent, fall back to the vendored minimal runtime in
``_vendor/protoshim`` (see its _shim.py for scope), making it visible
to (a) this process via sys.path and (b) the daemon-forked Python
workers via PYTHONPATH — which therefore must be set BEFORE the JVM
launches. The real distribution, when present, always wins.

ensure_engine_importable(): every Python worker imports this package
(the worker daemon module, kernels pickled by reference), so its root
goes on PYTHONPATH before the JVM launches, whatever the driver's cwd.
"""

from __future__ import annotations

import os
import sys

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SHIM_DIR = os.path.join(_PKG_DIR, "_vendor", "protoshim")
_ENGINE_ROOT = os.path.dirname(_PKG_DIR)


def _prepend_pythonpath(path: str) -> None:
    parts = os.environ.get("PYTHONPATH", "")
    if path not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + (os.pathsep + parts if parts else "")


def ensure_engine_importable() -> None:
    """Put the engine root on PYTHONPATH for the workers the JVM starts."""
    _prepend_pythonpath(_ENGINE_ROOT)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable; returns True iff the
    vendored shim (rather than the real package) is serving it."""
    try:
        import google.protobuf  # noqa: F401

        return "protoshim" in (google.protobuf.__file__ or "")
    except ImportError:
        pass
    if _SHIM_DIR not in sys.path:
        sys.path.insert(0, _SHIM_DIR)
    _prepend_pythonpath(_SHIM_DIR)
    import google.protobuf  # noqa: F401

    return True
