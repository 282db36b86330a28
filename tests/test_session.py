"""The engine's Python worker module (``_worker/pyspark_graft_worker.py``).

Every Python task must run on it, and its guard over
``zipimport.zipimporter.invalidate_caches`` must keep PySpark's
semantics: a zip rewritten in place is re-read, an unchanged one is not.
"""

from __future__ import annotations

import importlib
import os
import socket
import subprocess
import sys
import zipfile
import zipimport

import pytest

import p6__mapreduce_spark

_WORKER_DIR = os.path.join(os.path.dirname(p6__mapreduce_spark.__file__), "_worker")


def _task_report(batches):
    import zipimport

    import pandas as pd

    import p6__mapreduce_spark  # noqa: F401  (the engine's own package stays importable)

    for _ in batches:
        pass
    guard = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"guard": [f"{guard.__module__}.{guard.__qualname__}"]})


def test_python_tasks_run_on_the_engine_worker(spark):
    rows = spark.range(8, numPartitions=4).mapInPandas(_task_report, "guard string").collect()
    assert {r.guard for r in rows} == {"pyspark_graft_worker.invalidate_caches"}


def test_zip_added_after_start_imports_in_udf(spark, tmp_path):
    archive = tmp_path / "graft_late.zip"
    _write_zip(archive, {"graft_late_mod.py": "VALUE = 7\n"})
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import pandas as pd

        import graft_late_mod

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [graft_late_mod.VALUE]})

    assert {r.v for r in spark.range(4, numPartitions=2).mapInPandas(probe, "v long").collect()} == {7}


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)


@pytest.fixture
def guarded(monkeypatch):
    """The worker module's guard installed in this process, then removed."""
    monkeypatch.syspath_prepend(_WORKER_DIR)
    worker = importlib.import_module("pyspark_graft_worker")
    zipimport.zipimporter.invalidate_caches = worker.invalidate_caches
    yield worker
    zipimport.zipimporter.invalidate_caches = worker._reread


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding ``graft_moda``, already imported from."""
    archive = tmp_path / "graft_probe.zip"
    _write_zip(archive, {"graft_moda.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("graft_moda", "graft_modb"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("graft_moda").X == 1
    yield archive
    for name in ("graft_moda", "graft_modb"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_zip_rewritten_in_place_is_reread(guarded, probe_zip):
    importlib.invalidate_caches()  # the importer has now read this version
    _write_zip(probe_zip, {"graft_moda.py": "X = 1\n", "graft_modb.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("graft_modb").Y == 2


def test_unchanged_zip_is_read_once(guarded, probe_zip, monkeypatch):
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(probe_zip)) == 1


def test_non_daemon_entry_runs_pyspark_worker_main():
    # ``python -m pyspark_graft_worker`` must reach pyspark.worker's
    # ``__main__`` block, which first connects back to the JVM; with no
    # JVM listening it fails on that connection.
    with socket.socket() as sock:
        sock.bind(("127.0.0.1", 0))
        port = sock.getsockname()[1]
    env = dict(
        os.environ,
        PYTHONPATH=_WORKER_DIR,
        PYTHON_WORKER_FACTORY_PORT=str(port),
        PYTHON_WORKER_FACTORY_SECRET="unused",
    )
    proc = subprocess.run(
        [sys.executable, "-m", "pyspark_graft_worker"],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert f"{os.sep}pyspark{os.sep}worker.py" in proc.stderr, proc.stderr
    assert "local_connect_and_auth" in proc.stderr, proc.stderr
