"""The Python-worker start-up hook (self-contained: runs at interpreter start).

``protobuf_compat.export_worker_pythonpath`` puts this directory on
PYTHONPATH before the SparkSession's JVM starts, so Python's ``site`` imports
this file in the driver and in every process the JVM spawns: pyspark workers
and streaming runners. It does one thing, and only before Python 3.13:

**It stops zip-directory re-reads.** pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()`` on
every task. Before 3.13, ``zipimport.zipimporter.invalidate_caches``
re-reads its archive's whole central directory, once per importer instance,
and a worker holds 16-18 of them: pyspark.zip x12 (1 328 entries each), the
spark-core jar x2 (5 359 entries each) and the py4j zip x2. Measured on a
4-cpu host, that was 18 reads and 200-400 ms before every Python task read a
row. ``_guard_zip_invalidate`` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stat this process took at
its last read; a new or rewritten zip is still picked up. Python 3.13 made
the call lazy, so it is left alone there.

The hook itself adds no ``sys.path`` entry and imports nothing outside the
standard library. Being first on PYTHONPATH, it shadows any host-level
sitecustomize, so it chain-loads the next one down the path.

``protobuf_compat.install_in_process`` runs this file again in an
interpreter that is already up; the guard wraps only once. The names
``pb_shim`` and ``protobuf_compat`` date from when the hook also shimmed a
protobuf runtime; they stay because the benchmark (``perfbench/run.py``)
imports ``protobuf_compat`` by name.
"""

import functools
import os
import sys


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
    only when the archive changed since this process last read it (see the
    module docstring). Wraps once, however often this file runs."""
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


_guard_zip_invalidate()
if __name__ == "sitecustomize":
    # only when imported AS the interpreter-startup hook — when re-exec'd by
    # protobuf_compat.install_in_process (runpy) the host sitecustomize
    # already ran at startup and must not run twice
    _chain_shadowed_sitecustomize()
