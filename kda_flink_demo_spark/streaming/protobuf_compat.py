"""Driver-side helpers for the protobuf shim that unlocks
``transformWithStateInPandas`` (see ``pb_shim/sitecustomize.py`` for the full
story: SDK-bundled pure-python protobuf + a no-op ``runtime_version``
back-fill + phantom jar-namespace purge).

Usage (before the SparkSession/JVM exists):

    from kda_flink_demo_spark.streaming import protobuf_compat
    protobuf_compat.export_worker_pythonpath()   # workers get the shim
    protobuf_compat.install_in_process()         # this interpreter too
    if protobuf_compat.tws_available():
        ...  # distinct_state.distinct_users_tws is runnable

Everything is environment-gated; on a host with a real protobuf install all
of this collapses to no-ops.
"""

from __future__ import annotations

import os
import runpy
import sys


def shim_dir() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "pb_shim")


def install_in_process() -> bool:
    """Run the sitecustomize shim in THIS interpreter (it's self-contained;
    exec'd by path so it works even when the repo isn't on sys.path at
    interpreter start). Idempotent. Returns protobuf availability."""
    ns = runpy.run_path(os.path.join(shim_dir(), "sitecustomize.py"))
    return bool(ns["install"]())


def export_worker_pythonpath() -> None:
    """Prepend the shim dir to PYTHONPATH so every python process the JVM
    spawns (workers, TWS streaming runners) imports the sitecustomize shim at
    startup. MUST run before the first SparkSession is created — the JVM
    snapshots its environment at launch and passes it to the workers."""
    d = shim_dir()
    current = os.environ.get("PYTHONPATH", "")
    if d not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = d + (os.pathsep + current if current else "")
    if d not in sys.path:
        sys.path.insert(0, d)


def tws_available() -> bool:
    """True iff the transformWithStateInPandas protocol modules import —
    i.e. a usable google.protobuf (real or shimmed) can load pyspark's
    StateMessage_pb2 gencode."""
    if not install_in_process():
        return False
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except Exception:  # noqa: BLE001 — any gencode/runtime mismatch = unavailable
        return False
