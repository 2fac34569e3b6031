"""Protobuf runtime shim (self-contained — runs at interpreter start).

`transformWithStateInPandas` (Spark 4's successor stateful API, which
`distinct_state.distinct_users_tws` runs on for its MapState) speaks a protobuf
state-server protocol: the python worker imports
``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs a
``google.protobuf`` runtime. This container has no protobuf install, but the
google-cloud-sdk ships a pure-python copy (4.23). Two gaps to bridge:

1. ``StateMessage_pb2`` is protobuf-6 gencode and imports
   ``google.protobuf.runtime_version`` (added in 5.27) purely to VALIDATE the
   runtime version; the 4.23 runtime parses the serialized descriptors fine
   (the wire/descriptor format is stable), so a no-op validator restores it.
2. spark-core's jar sits on the python worker's sys.path and contains
   ``google/protobuf/*.proto`` RESOURCES — Python imports that as an empty
   namespace package, so "``import google.protobuf`` succeeded" is NOT
   evidence of a usable runtime; ``descriptor`` must import too, and the
   phantom namespace modules must be purged before retrying.

This file must execute in BOTH the driver and every pyspark worker /
streaming runner, which all start fresh interpreters — hence the
``sitecustomize`` mechanism: put THIS directory on PYTHONPATH before the
SparkSession (and its JVM) is created and Python's ``site`` imports it at
startup everywhere (`protobuf_compat.export_worker_pythonpath`). Everything
is environment-gated: with no usable protobuf anywhere this is a no-op and
the TWS tests skip, exactly as before.
"""

import os
import sys
import types


def _chain_shadowed_sitecustomize() -> None:
    """Python imports exactly ONE `sitecustomize` — the first on sys.path.
    Being prepended to PYTHONPATH, this file shadows any host-level
    sitecustomize (virtualenv/.pth/coverage hooks commonly live there), so
    chain-load the next one down the path to preserve its side effects
    (r08 review finding)."""
    import importlib.util

    here = os.path.realpath(os.path.dirname(os.path.abspath(__file__)))
    for p in sys.path:
        base = os.path.abspath(p) if p else os.path.abspath(".")
        # realpath, not abspath: a symlinked spelling of THIS dir must not
        # pass as the "next" hook or we exec ourselves and never chain the
        # real host sitecustomize (r08 second-review finding)
        if os.path.realpath(base) == here:
            continue
        cand = os.path.join(base, "sitecustomize.py")
        if os.path.isfile(cand):
            try:
                spec = importlib.util.spec_from_file_location(
                    "_pb_shim_chained_sitecustomize", cand
                )
                mod = importlib.util.module_from_spec(spec)
                spec.loader.exec_module(mod)
            except Exception:  # noqa: BLE001 — the host hook must not kill startup
                pass
            return


_SDK_ROOTS = [
    "/usr/lib/google-cloud-sdk/lib/third_party",
    "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk",
]


def _usable() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def install() -> bool:
    """Idempotent: make a real google.protobuf importable (purging phantom
    jar-namespace modules), then back-fill runtime_version if absent.
    Returns availability."""
    if not _usable():
        # purge ONLY the phantom namespace entries the jar resources create:
        # the bare "google"/"google.protobuf" packages and protobuf submodules.
        # Unrelated, functional google.* packages (google.auth, google.cloud,
        # ...) that the driver may already have imported must keep their
        # sys.modules entries — deleting them would hand later importers
        # stale/duplicate module state (r08 advice finding).
        for m in [
            m
            for m in sys.modules
            if m in ("google", "google.protobuf") or m.startswith("google.protobuf.")
        ]:
            del sys.modules[m]
        for p in _SDK_ROOTS:
            if os.path.isdir(p) and p not in sys.path:
                sys.path.append(p)
    if not _usable():
        return False
    import google.protobuf as gpb

    try:
        from google.protobuf import runtime_version  # noqa: F401
    except ImportError:
        mod = types.ModuleType("google.protobuf.runtime_version")

        class _Domain:
            PUBLIC = 1
            GOOGLE_INTERNAL = 2

        def _validate(*args, **kwargs):  # noqa: ANN002, ANN003
            return None

        mod.Domain = _Domain
        mod.ValidateProtobufRuntimeVersion = _validate
        sys.modules["google.protobuf.runtime_version"] = mod
        gpb.runtime_version = mod
    return True


install()
if __name__ == "sitecustomize":
    # only when imported AS the interpreter-startup hook — when re-exec'd by
    # protobuf_compat.install_in_process (runpy) the host sitecustomize
    # already ran at startup and must not run twice
    _chain_shadowed_sitecustomize()
