"""Session defaults that depend on the host."""

import os
import site

import datasketch_spark
from datasketch_spark.session import (
    DAEMON_MODULE,
    _daemon_module,
    _driver_memory,
    _shuffle_partitions,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(datasketch_spark.__file__)))


def _host(monkeypatch, gib: float) -> None:
    pages = int(gib * 2**30) // 4096
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _host(monkeypatch, 15.6)
    assert _driver_memory() == "7g"  # 7.8 GiB, rounded down to whole GiB
    _host(monkeypatch, 128)
    assert _driver_memory() == "64g"
    _host(monkeypatch, 1)
    assert _driver_memory() == "1g"  # never below 1 GiB


def test_driver_memory_env_override(monkeypatch):
    _host(monkeypatch, 15.6)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"


def test_shuffle_partitions_follow_the_master(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert _shuffle_partitions("local") == 1
    assert _shuffle_partitions("local[3]") == 3
    assert _shuffle_partitions("local[2,4]") == 2  # N threads, F max failures
    assert _shuffle_partitions("local[*]") == 6
    assert _shuffle_partitions("local[*,3]") == 6
    # Cluster masters leave the setting to the spark-submit conf.
    for master in ("yarn", "spark://host:7077", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert _shuffle_partitions(master) is None


def test_worker_daemon_only_where_workers_can_import_it(monkeypatch, tmp_path):
    monkeypatch.setattr(site, "getsitepackages", lambda: [])
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)  # workers start in the driver's cwd
    for master in ("local", "local[3]", "local[*]", "local[2,4]"):
        assert _daemon_module(master) == DAEMON_MODULE
    # Cluster masters keep Spark's default daemon.
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
        assert _daemon_module(master) is None
    # Found on the driver only through sys.path: Spark's default daemon.
    monkeypatch.chdir(tmp_path)
    assert _daemon_module("local[2]") is None
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert _daemon_module("local[2]") == DAEMON_MODULE
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.setattr(site, "getsitepackages", lambda: [REPO])
    assert _daemon_module("local[2]") == DAEMON_MODULE
