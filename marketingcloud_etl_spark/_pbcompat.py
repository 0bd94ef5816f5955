"""Pure-python protobuf availability shim for ``transformWithState``.

Spark 4's ``transformWithStateInPandas`` talks to the JVM state server
through protobuf messages (``pyspark/sql/streaming/proto/
StateMessage_pb2.py``). This container ships no ``protobuf``
distribution — but the Google Cloud SDK on the base image bundles the
complete pure-python protobuf runtime under a renamed package
(``cloudsdk.google.protobuf``). This module makes that runtime
importable under its canonical name so the stateful-processor API works:

 - a meta-path finder aliases ``google.protobuf[.X]`` to the
   ``cloudsdk.google.protobuf[.X]`` module objects (same objects, no
   duplicate class hierarchies);
 - Spark's generated pb2 file asks for ``google.protobuf.
   runtime_version`` (added in protobuf 5.x; the bundled runtime is
   4.23) — a synthetic module provides the version-check no-op. The
   4.x wire format and descriptor/builder APIs the gencode actually
   uses are unchanged between the versions, which
   tests/test_streaming.py proves end-to-end against the JVM.

Worker processes need the same resolution at task time (the pb2 import
inside ``StatefulProcessorApiClient`` is lazy), so :func:`shim_zip`
packages the shim + the bundled runtime into one zip for
``SparkContext.addPyFile`` — pyfiles land on worker ``sys.path`` before
any task runs.

If a real ``protobuf`` distribution is installed, every entry point here
is a no-op: the real package always wins.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import threading
import zipfile

from .io import scratch_dir

_GCLOUD_TP = "/usr/lib/google-cloud-sdk/lib/third_party"

_RT_SRC = '''\
"""Synthetic google.protobuf.runtime_version (mcetl _pbcompat shim).

Protobuf >= 5.x gencode validates the runtime version at import; the
bundled 4.x pure-python runtime predates the module. The validation is
advisory (wire format + descriptor APIs used by Spark's gencode are
compatible), so the check is a no-op here.
"""
import enum


class Domain(enum.Enum):
    GOOGLE_INTERNAL = 1
    PUBLIC = 2


MAJOR, MINOR, PATCH, SUFFIX = 6, 33, 0, ""


def ValidateProtobufRuntimeVersion(domain, major, minor, patch, suffix, location):
    pass
'''

_GOOGLE_INIT = '''\
__path__ = __import__("pkgutil").extend_path(__path__, __name__)
'''

_PROTOBUF_INIT = '''\
"""google.protobuf -> cloudsdk.google.protobuf alias (mcetl _pbcompat)."""
import importlib
import importlib.abc
import importlib.machinery
import sys
import types

__version__ = "4.23.2"

_rt = types.ModuleType("google.protobuf.runtime_version")
exec(_RT_SRC_PLACEHOLDER, _rt.__dict__)
sys.modules.setdefault("google.protobuf.runtime_version", _rt)
sys.modules.setdefault("cloudsdk.google.protobuf.runtime_version", _rt)
runtime_version = _rt


class _PbAlias(importlib.abc.MetaPathFinder, importlib.abc.Loader):
    """Alias google.protobuf.X to the cloudsdk.google.protobuf.X module
    OBJECT (not a re-executed copy) so there is exactly one descriptor
    class hierarchy in the process."""

    def find_spec(self, fullname, path=None, target=None):
        if fullname.startswith("google.protobuf."):
            return importlib.machinery.ModuleSpec(fullname, self, is_package=True)
        return None

    def create_module(self, spec):
        return importlib.import_module("cloudsdk." + spec.name)

    def exec_module(self, module):
        pass


if not any(isinstance(f, _PbAlias) for f in sys.meta_path):
    sys.meta_path.insert(0, _PbAlias())
'''.replace("_RT_SRC_PLACEHOLDER", repr(_RT_SRC))


# this process's shim zip, once built (see shim_zip)
_SHIM_ZIP: str | None = None
_SHIM_LOCK = threading.Lock()


def real_protobuf_available() -> bool:
    """True when an actual protobuf distribution resolves WITHOUT the
    shim (checked by spec lookup so nothing is imported as a side
    effect)."""
    try:
        spec = importlib.util.find_spec("google.protobuf")
    except (ImportError, ValueError):
        return False
    if spec is None:
        return False
    # once activated, the shim zip on sys.path resolves the name too
    return _SHIM_ZIP is None or not (spec.origin or "").startswith(_SHIM_ZIP + "/")


def resolvable() -> bool:
    """True when SOME protobuf runtime can be made importable on this
    host (real distribution, or the gcloud-bundled pure-python runtime).
    Cheap — two filesystem checks, no imports, no Spark — so callers can
    gate catalog registration on it at module-import time."""
    return real_protobuf_available() or os.path.isdir(
        os.path.join(_GCLOUD_TP, "cloudsdk", "google", "protobuf")
    )


def _build_zip(out_path: str) -> None:
    """Write the self-contained shim zip: alias package + the gcloud
    pure-python runtime rehomed under ``cloudsdk/``."""
    src = os.path.join(_GCLOUD_TP, "cloudsdk", "google", "protobuf")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("google/__init__.py", _GOOGLE_INIT)
        z.writestr("google/protobuf/__init__.py", _PROTOBUF_INIT)
        z.writestr("cloudsdk/__init__.py", "")
        z.writestr("cloudsdk/google/__init__.py", "")
        for root, _dirs, files in os.walk(src):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.join(_GCLOUD_TP))
                z.write(full, rel)


def shim_zip() -> str | None:
    """Build (once per process) and return the shim zip path, or None
    when the bundled runtime isn't on this machine. The zip lives in an
    ``io.scratch_dir``, so each process ships the shim text it was
    started with and the zip is removed when the process exits."""
    global _SHIM_ZIP
    if not os.path.isdir(os.path.join(_GCLOUD_TP, "cloudsdk", "google", "protobuf")):
        return None
    with _SHIM_LOCK:
        if _SHIM_ZIP is None:
            out = os.path.join(scratch_dir("pbcompat"), "pbcompat.zip")
            _build_zip(out)
            _SHIM_ZIP = out
        return _SHIM_ZIP


def activate() -> bool:
    """Make ``google.protobuf`` importable in THIS process. Returns
    True when protobuf (real or shimmed) is usable."""
    if real_protobuf_available():
        return True
    z = shim_zip()
    if z is None:
        return False
    if z not in sys.path:
        sys.path.insert(0, z)
    try:
        importlib.import_module("google.protobuf.descriptor")
        return True
    except ImportError:
        return False


def ensure_workers(spark) -> bool:
    """Make ``google.protobuf`` importable in this session's Python
    WORKERS (and the driver). addPyFile-distributed zips are prepended
    to worker sys.path with every task, so this works on an
    already-running session — including one created by an external
    harness."""
    if not activate():
        return False
    if not real_protobuf_available():
        z = shim_zip()
        assert z is not None
        # idempotent: Spark ignores a re-added identical file path
        spark.sparkContext.addPyFile(z)
    return True
