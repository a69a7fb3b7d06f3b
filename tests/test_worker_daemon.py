"""The engine's Python worker daemon (``compat/daemon/milan_daemon.py``):
Python tasks of a ``get_spark`` session run under it, and its guarded
``zipimporter.invalidate_caches`` still picks up an archive that changed on
disk while skipping the re-read of one that did not."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from milan_spark.session import _DAEMON_DIR, DAEMON_MODULE


def test_python_tasks_run_under_engine_daemon(spark):
    def probe(batches):
        import sys as worker_sys

        spec = getattr(worker_sys.modules["__main__"], "__spec__", None)
        for _ in batches:
            yield pd.DataFrame({"daemon": [spec.name if spec else None]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "daemon string").collect()
    assert {r.daemon for r in rows} == {DAEMON_MODULE}


@pytest.fixture
def daemon(monkeypatch):
    """The daemon module, installed in this process; the original
    ``zipimporter.invalidate_caches`` is restored afterwards."""
    monkeypatch.syspath_prepend(_DAEMON_DIR)
    mod = importlib.import_module(DAEMON_MODULE)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    mod.install()
    return mod


def _write_zip(path, name, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)


def test_changed_archive_is_picked_up(daemon, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "milan_zip_probe_a", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("milan_zip_probe_a", "milan_zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("milan_zip_probe_a").VALUE == 1
    importlib.invalidate_caches()  # records the archive as read

    _write_zip(archive, "milan_zip_probe_b", "VALUE = 2  # a different archive\n")
    importlib.invalidate_caches()
    assert importlib.import_module("milan_zip_probe_b").VALUE == 2


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12 re-reads lazily")
def test_unchanged_archive_is_not_reread(daemon, tmp_path, monkeypatch):
    archive = tmp_path / "same.zip"
    _write_zip(archive, "milan_zip_probe_c", "VALUE = 3\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "milan_zip_probe_c", raising=False)
    importlib.import_module("milan_zip_probe_c")
    importlib.invalidate_caches()  # records the archive

    rereads = []
    reread = daemon._reread
    monkeypatch.setattr(daemon, "_reread", lambda imp: rereads.append(imp.archive) or reread(imp))
    importlib.invalidate_caches()
    assert str(archive) not in rereads
