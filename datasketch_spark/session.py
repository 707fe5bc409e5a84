"""SparkSession factory tuned for the dedup pipeline.

Arrow on (the signature UDF, plus the substring pass's two mapInPandas
stages when it runs, cross into Python), AQE on (skew-join
splitting + adaptive shuffle partitions), shuffle partitions sized to the
local master's cores; on a real cluster these come from spark-submit conf.
"""

from __future__ import annotations

import os
import re

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


def _shuffle_partitions(master: str) -> int | None:
    """One shuffle partition per core of a local master (``local`` is one
    core, ``local[N]`` / ``local[N,F]`` N, ``local[*]`` all of them); None
    for any other master, so the cluster's spark-submit conf decides."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return None
    cores = m.group(1) or "1"
    return os.cpu_count() if cores == "*" else int(cores)


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
    local_dirs = _local_dirs()
    if local_dirs and master.startswith("local"):
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
