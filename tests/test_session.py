"""Session defaults that depend on the host."""

import os

from datasketch_spark.session import _driver_memory, _shuffle_partitions


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
