"""The Python-worker start-up hook (self-contained: runs at interpreter start).

``protobuf_compat.export_worker_pythonpath`` puts this directory on
PYTHONPATH before the SparkSession's JVM starts, so Python's ``site`` imports
this file in the driver and in every process the JVM spawns: pyspark workers
and streaming runners. It makes two fixes, each a no-op where it is not
needed.

1. **Zip-directory re-reads (Python < 3.13).** pyspark's
   ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
   on every task. Before 3.13, ``zipimport.zipimporter.invalidate_caches``
   re-reads its archive's whole central directory, once per importer
   instance, and a worker holds 16-18 of them: pyspark.zip x12 (1 328
   entries each), the spark-core jar x2 (5 359 entries each) and the py4j
   zip x2. Measured on a 4-cpu host, that was 18 reads and 200-400 ms before
   every Python task read a row. ``_guard_zip_invalidate`` re-reads an
   archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the
   stat this process took at its last read; a new or rewritten zip is still
   picked up. Python 3.13 made the call lazy, so it is left alone there.
2. **A protobuf runtime for ``transformWithStateInPandas``.** Spark 4's
   stateful API (``distinct_state.distinct_users_tws``) speaks a protobuf
   state-server protocol: the worker imports
   ``pyspark.sql.streaming.proto.StateMessage_pb2``, which needs
   ``google.protobuf``. This container has no protobuf install, but the
   google-cloud-sdk ships a pure-python copy (4.23). Two gaps to bridge:

   - ``StateMessage_pb2`` is protobuf-6 gencode and imports
     ``google.protobuf.runtime_version`` (added in 5.27) purely to VALIDATE
     the runtime version; the 4.23 runtime parses the serialized descriptors
     fine (the wire/descriptor format is stable), so a no-op validator
     restores it.
   - spark-core's jar sits on the worker's sys.path and contains
     ``google/protobuf/*.proto`` RESOURCES; Python imports that as an empty
     namespace package, so "``import google.protobuf`` succeeded" is NOT
     evidence of a usable runtime: ``descriptor`` must import too, and the
     phantom namespace modules must be purged before retrying.

   With no usable protobuf anywhere this is a no-op and the TWS tests skip.

``protobuf_compat.install_in_process`` runs this file again in an
interpreter that is already up; both fixes are idempotent.
"""

import functools
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


def _guard_zip_invalidate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed since this process last read it (fix 1 in
    the module docstring). Wraps once, however often this file runs."""
    import zipimport

    if sys.version_info >= (3, 13) or hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    read_at: dict = {}  # archive -> its stat key, taken just before its last read

    def stat_key(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    @functools.wraps(read_directory)
    def recorded_read(archive):
        # stat BEFORE the read: a rewrite racing the read shows as a change
        key = stat_key(archive)
        read_at.pop(archive, None)
        files = read_directory(archive)
        read_at[archive] = key
        return files

    @functools.wraps(invalidate)
    def guarded_invalidate(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        key = read_at.get(self.archive)
        if files is not None and key is not None and key == stat_key(self.archive):
            self._files = files
        else:
            invalidate(self)

    zipimport._read_directory = recorded_read
    zipimport.zipimporter.invalidate_caches = guarded_invalidate


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


_guard_zip_invalidate()
install()
if __name__ == "sitecustomize":
    # only when imported AS the interpreter-startup hook — when re-exec'd by
    # protobuf_compat.install_in_process (runpy) the host sitecustomize
    # already ran at startup and must not run twice
    _chain_shadowed_sitecustomize()
