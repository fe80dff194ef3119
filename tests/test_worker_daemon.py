"""The engine's Python worker daemon: a stat-guarded
``zipimporter.invalidate_caches`` and the session wiring that makes
executors start it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from scats_transis_kinesis_spark import worker_daemon
from scats_transis_kinesis_spark.session import WORKER_DAEMON_MODULE


def _write_zip(path, name: str, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily from 3.13 on"
)
def test_invalidate_caches_rereads_an_archive_only_when_it_changed(monkeypatch, tmp_path):
    archive = str(tmp_path / "mods.zip")
    name = f"graft_zmod_{os.getpid()}"
    _write_zip(archive, name, "VALUE = 1\n")
    # Restored at teardown.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.install()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, name, "VALUE = 22  # changed\n")
    del sys.modules[name]
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importlib.import_module(name).VALUE == 22


def test_session_runs_python_tasks_under_the_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON_MODULE

    def daemon_module(_):
        import sys as worker_sys

        yield worker_sys.modules["__main__"].__spec__.name

    names = spark.sparkContext.parallelize(range(4), 4).mapPartitions(daemon_module).collect()
    assert names == [WORKER_DAEMON_MODULE] * 4
