"""Driver-side helpers for the one Python-worker start-up hook,
``pb_shim/sitecustomize.py``.

The hook runs at the start of every Python process the JVM spawns. On
Python < 3.13 it stops pyspark's per-task ``importlib.invalidate_caches()``
from re-reading the central directory of every zip on the worker's path:
pyspark.zip, the spark-core jar and py4j, 16-18 reads and 200-400 ms per
task on a 4-cpu host, now 0 reads while the archives are unchanged. On 3.13+
it is a no-op. Its docstring has the full story.

``session.get_spark`` calls ``export_worker_pythonpath`` before it builds the
session, and ``session.apply_engine_conf`` hands the hook to the workers of a
session built some other way. A caller that builds its own session can also
do it by hand, before the JVM exists:

    from kda_flink_demo_spark.streaming import protobuf_compat
    protobuf_compat.export_worker_pythonpath()   # workers get the hook
    protobuf_compat.install_in_process()         # this interpreter too

The module keeps the name it had when the hook also shimmed a protobuf
runtime, because the benchmark (``perfbench/run.py``) imports it by name.
"""

from __future__ import annotations

import os
import runpy
import sys


def shim_dir() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "pb_shim")


def install_in_process() -> None:
    """Run the sitecustomize hook in THIS interpreter (it's self-contained;
    exec'd by path so it works even when the repo isn't on sys.path at
    interpreter start). Idempotent."""
    runpy.run_path(os.path.join(shim_dir(), "sitecustomize.py"))


def export_worker_pythonpath() -> None:
    """Prepend the hook's dir to PYTHONPATH so every python process the JVM
    spawns (workers, streaming runners) imports the sitecustomize hook at
    startup. MUST run before the first SparkSession is created — the JVM
    snapshots its environment at launch and passes it to the workers."""
    d = shim_dir()
    current = os.environ.get("PYTHONPATH", "")
    if d not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = d + (os.pathsep + current if current else "")
    if d not in sys.path:
        sys.path.insert(0, d)
