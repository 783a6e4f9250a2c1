"""Activate the vendored mini-protobuf runtime when the environment has
no real ``google.protobuf``.

Spark 4's ``transformWithStateInPandas`` Python worker speaks protobuf
(``pyspark/sql/streaming/proto/StateMessage_pb2.py``) to the JVM state
server over a local socket. In environments without the protobuf wheel
that import fails and the whole TWS path is unusable. The vendor tree at
``vendor/protoshim`` implements the slice of google.protobuf that the
generated module and the Spark state clients actually exercise (see
``vendor/protoshim/google/protobuf/_mini.py`` for the scope statement).

``ensure_protobuf()`` must run BEFORE the first SparkSession is created:
Python workers inherit ``PYTHONPATH`` from the JVM, which inherits it
from this process at gateway launch — a later mutation never reaches
the workers.
"""

from __future__ import annotations

import importlib
import os
import sys

VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vendor", "protoshim")


def has_real_protobuf() -> bool:
    try:
        import google.protobuf.descriptor as d  # noqa: F401

        return not getattr(sys.modules.get("google.protobuf"), "PROTOSHIM", False)
    except Exception:
        return False


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, preferring a real install.

    Returns True when protobuf (real or shim) is importable afterwards.
    Idempotent; never shadows a working installation.
    """
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except Exception:
        pass

    if VENDOR_DIR not in sys.path:
        sys.path.insert(0, VENDOR_DIR)
    # Workers (forked from the JVM's python daemon) resolve imports via
    # PYTHONPATH, not this process's sys.path.
    from spark_streaming_test_spark.session import add_worker_path

    add_worker_path(VENDOR_DIR)
    # A failed `import google.protobuf` attempt may have cached a
    # namespace-package 'google' (e.g. from an empty real dir) — retry
    # cleanly.
    for mod in [m for m in list(sys.modules) if m == "google" or m.startswith("google.")]:
        if not getattr(sys.modules[mod], "PROTOSHIM", False):
            del sys.modules[mod]
    importlib.invalidate_caches()
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except Exception:
        return False
