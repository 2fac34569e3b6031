"""The Python-worker start-up hook (``streaming/pb_shim/sitecustomize.py``):
its stat guard on ``zipimporter.invalidate_caches``, checked in this
interpreter, in a fresh one and inside a reused pyspark worker; that it
leaves ``sys.path`` and ``sys.modules`` alone; and its hand-over to workers
by ``session.get_spark`` and ``session.apply_engine_conf``."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from kda_flink_demo_spark import session
from kda_flink_demo_spark.session import apply_engine_conf, get_spark
from kda_flink_demo_spark.streaming import protobuf_compat

eager_zip_rereads = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidates lazily from Python 3.13 on"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip of one module on sys.path, imported once (so its zipimporter
    exists); yields the archive path. Modules imported from it are removed."""
    archive = str(tmp_path / "hooked.zip")
    _write_zip(archive, {"hook_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import hook_mod_a  # noqa: F401

    yield archive
    for name in ("hook_mod_a", "hook_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_zip_rereads
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads


@eager_zip_rereads
def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"hook_mod_a": "VALUE = 1\n", "hook_mod_b": "VALUE = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    import hook_mod_b

    assert hook_mod_b.VALUE == 2


@eager_zip_rereads
def test_installing_twice_wraps_once():
    protobuf_compat.install_in_process()
    protobuf_compat.install_in_process()
    guarded = zipimport.zipimporter.invalidate_caches
    assert hasattr(guarded, "__wrapped__")
    assert not hasattr(guarded.__wrapped__, "__wrapped__")


@eager_zip_rereads
def test_worker_tasks_reread_no_zip_directory(spark):
    """Unguarded, each task re-read 18 directories (pyspark.zip, the
    spark-core jar and py4j, each under several importers): 200-400 ms per
    task."""

    def reads_per_invalidate(_):
        # in the worker: zip-directory reads made by one
        # importlib.invalidate_caches(), the call pyspark makes per task
        import importlib
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield len(reads)

    rdd = spark.sparkContext.parallelize(range(2), 2)
    for _ in range(2):  # the second round runs in reused workers
        assert rdd.mapPartitions(reads_per_invalidate).collect() == [0, 0]


def test_get_spark_exports_the_hook(spark, monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "")
    get_spark("kda-spark-tests", cpus=8)
    assert protobuf_compat.shim_dir() in os.environ["PYTHONPATH"].split(os.pathsep)


_PROBE = """import json, sys, zipimport
print(json.dumps({
    "path": sys.path,
    "modules": sorted(sys.modules),
    "guarded": hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
}))"""


def _fresh_interpreter(tmp_path, pythonpath: str | None) -> dict:
    """``sys.path``, ``sys.modules`` and the zip guard's presence in a new
    interpreter started with exactly this PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], env=env, cwd=tmp_path, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout)


def test_hook_leaves_sys_path_and_modules_alone(tmp_path):
    hook = protobuf_compat.shim_dir()
    bare = _fresh_interpreter(tmp_path, None)
    hooked = _fresh_interpreter(tmp_path, hook)
    assert [p for p in hooked["path"] if p != hook] == bare["path"]
    assert [m for m in hooked["modules"] if m.split(".")[0] == "google"] == []


@eager_zip_rereads
def test_hook_guards_zip_invalidate_in_a_fresh_interpreter(tmp_path):
    assert _fresh_interpreter(tmp_path, protobuf_compat.shim_dir())["guarded"]


def test_apply_engine_conf_keeps_the_environment_of_a_hooked_jvm(spark):
    """The tests' session was built by ``get_spark``, so its JVM started with
    the hook: a changed environment would only start a second worker pool."""
    hook = protobuf_compat.shim_dir()
    assert hook in spark._jvm.System.getenv("PYTHONPATH").split(os.pathsep)
    before = dict(spark.sparkContext.environment)
    session._CONF_APPLIED.discard(spark)  # take the full-application branch
    apply_engine_conf(spark)
    assert spark in session._CONF_APPLIED
    assert spark.sparkContext.environment == before


def test_apply_engine_conf_hands_the_hook_to_a_jvm_without_it(spark, monkeypatch):
    """A session built with ``SparkSession.builder`` (as an external driver
    builds it) launched its JVM without the hook: workers started later get
    it through ``sparkContext.environment``, once."""

    class _JvmWithoutHook:
        class System:
            @staticmethod
            def getenv(name):
                return "/elsewhere" if name == "PYTHONPATH" else None

    monkeypatch.setattr(spark, "_jvm", _JvmWithoutHook)
    monkeypatch.setattr(spark.sparkContext, "environment", {"PYTHONPATH": "/user/libs"})
    for _ in range(2):
        session._CONF_APPLIED.discard(spark)
        apply_engine_conf(spark)
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert paths == [protobuf_compat.shim_dir(), "/user/libs"]
