"""The worker daemon's zip directory cache: an unchanged archive is not
re-read at a task start, a rewritten one is, and the test session's Python
workers run with the patch in place."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketch_spark import worker_daemon
from datasketch_spark.session import DAEMON_MODULE


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 invalidates zip caches lazily; no patch"
)
def test_archive_is_reread_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_first": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    for name in ("wd_first", "wd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_first").X == 1

    # Restore the stock method and an empty stamp table after the test.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._reread)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    worker_daemon.install()
    reads = []
    read = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"wd_first": "X = 1\n", "wd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("wd_second").Y == 2

    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_run_the_daemon(spark):
    @F.pandas_udf("string")
    def patched_by(ids: pd.Series) -> pd.Series:
        import zipimport

        mod = zipimport.zipimporter.invalidate_caches.__module__
        return ids.map(lambda _: mod if sys.version_info < (3, 13) else DAEMON_MODULE)

    rows = spark.range(4).repartition(2).select(patched_by("id").alias("m")).distinct().collect()
    assert [r.m for r in rows] == [DAEMON_MODULE]
