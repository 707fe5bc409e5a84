"""SparkSession factory tuned for the dedup pipeline.

Arrow on (the signature UDF, plus the substring pass's two mapInArrow
stages when it runs, cross into Python), AQE on (skew-join
splitting + adaptive shuffle partitions), shuffle partitions sized to the
local master's cores; on a real cluster these come from spark-submit conf.

Every Python task also pays a fixed start-up cost that has nothing to do with
its rows: PySpark calls ``importlib.invalidate_caches()``, and on Python 3.12
and older each zip importer re-reads ``pyspark.zip``'s whole directory (about
70-125 ms per task). On local masters the Python workers therefore fork from
``datasketch_spark.worker_daemon``, which re-reads an archive only when it
changed.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession


def _local_dirs() -> str | None:
    """Prefer RAM-backed shuffle spill in local mode: shuffle I/O through a
    disk-backed /tmp serializes the shuffle-heavy stages regardless of core
    count. On a real cluster this comes from the node's NVMe via
    spark.local.dir in the cluster conf instead."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        path = os.path.join(shm, "spark-local")
        os.makedirs(path, exist_ok=True)
        return path
    return None


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half of physical memory in whole GiB (at
    least 1): the heap shares RAM with the Python workers and shuffle dir."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_DRIVER_MEM", f"{max(1, phys // 2 // 2**30)}g")


_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")
DAEMON_MODULE = "datasketch_spark.worker_daemon"


def _shuffle_partitions(master: str) -> int | None:
    """One shuffle partition per core of a local master (``local`` is one
    core, ``local[N]`` / ``local[N,F]`` N, ``local[*]`` all of them); None
    for any other master, so the cluster's spark-submit conf decides."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return None
    cores = m.group(1) or "1"
    return os.cpu_count() if cores == "*" else int(cores)


def _daemon_module(master: str) -> str | None:
    """``DAEMON_MODULE`` for a local master whose Python workers can import
    it, else None (Spark's own daemon). The workers run ``python -m`` in this
    process's cwd with its ``PYTHONPATH`` after Spark's zips, so those and
    site-packages are where they look; a package found only through a
    driver-side ``sys.path.insert`` is not importable there, and a daemon
    that fails to import would fail every Python UDF."""
    if _LOCAL_MASTER.fullmatch(master) is None:
        return None
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    dirs = [os.getcwd(), *pythonpath, *site.getsitepackages()]
    rel = os.path.join(*DAEMON_MODULE.split(".")) + ".py"
    if any(d and os.path.isfile(os.path.join(d, rel)) for d in dirs):
        return DAEMON_MODULE
    return None


def get_spark(
    app_name: str = "datasketch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Partition coalescing measured 2.7x SLOWER on the bucket-groupBy
        # stage at bench scale (extra re-optimization barriers; our
        # shuffle_partitions are already sized to the cluster, so
        # coalescing only adds stage boundaries). AQE itself + skew-join
        # splitting stay on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", _driver_memory())
        # ContextCleaner only reclaims finished queries' shuffle files /
        # broadcasts when the driver GCs; with a large mostly-idle heap
        # that can be never within a session, so old query state (incl.
        # RAM-backed shuffle dirs) accumulates. 2 min periodic GC is
        # standard long-session hygiene; override via env for clusters.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "120s"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    partitions = shuffle_partitions or _shuffle_partitions(master)
    if partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(partitions))
    daemon = _daemon_module(master)
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    local_dirs = _local_dirs()
    if local_dirs and master.startswith("local"):
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
