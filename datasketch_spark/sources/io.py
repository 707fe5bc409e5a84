"""Checkpointed stage writer with a metrics sidecar.

The north rule requires every stage to checkpoint to a lakehouse table with
per-partition lineage + metrics so the pipeline resumes mid-run. The table
format is abstracted: parquet in the sandbox, Iceberg on a cluster (same
call sites — ``format='iceberg'`` + a catalog conf is the only change; no
Iceberg jars ship in this sandbox so the branch is config-gated, not
exercised here).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class CheckpointManager:
    """Writes each pipeline stage to ``<root>/<stage>`` and records a
    ``_metrics.json`` sidecar (rows, partitions, elapsed, config digest).

    ``resume=True``: if a stage directory exists with a complete metrics
    sidecar AND the sidecar's config digest matches the current
    ``run_config``, the stage is read back instead of recomputed — mid-run
    resume. A digest mismatch (e.g. threshold/num_perm/shingle_k changed
    between runs) recomputes the stage instead of serving stale data.
    """

    root: str
    format: str = "parquet"  # "parquet" | "iceberg"
    resume: bool = True
    run_config: dict = field(default_factory=dict)
    # Whether stages are written at all; only NoopCheckpoints turns it off.
    enabled: ClassVar[bool] = True

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _metrics_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._metrics.json")

    def config_digest(self) -> str:
        return hashlib.sha256(
            json.dumps(self.run_config, sort_keys=True, default=str).encode()
        ).hexdigest()[:16]

    def has(self, stage: str) -> bool:
        """A stage is resumable only if its sidecar exists AND was written
        under the same run_config (digest check)."""
        path = self._metrics_path(stage)
        if not os.path.exists(path):
            return False
        try:
            with open(path) as fh:
                recorded = json.load(fh).get("config_digest")
        except (OSError, json.JSONDecodeError):
            return False
        return recorded == self.config_digest()

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.format(self.format).load(self._path(stage))

    def stage_config(self, stage: str) -> dict | None:
        """The run_config recorded in a stage's metrics sidecar, or None
        if the sidecar is missing/unreadable — lets a loader restore the
        exact config an index was SAVED under instead of guessing."""
        try:
            with open(self._metrics_path(stage)) as fh:
                cfg = json.load(fh).get("config")
        except (OSError, json.JSONDecodeError):
            return None
        return cfg if isinstance(cfg, dict) else None

    def materialize(self, df: DataFrame, stage: str) -> DataFrame:
        """Write the stage, record metrics, return the re-read DataFrame
        (lineage truncated at the table — the scale-path equivalent of
        ``local_checkpoint``)."""
        spark = df.sparkSession
        if self.resume and self.has(stage):
            return self.load(spark, stage)
        os.makedirs(self.root, exist_ok=True)
        t0 = time.time()
        df.write.mode("overwrite").format(self.format).save(self._path(stage))
        out = self.load(spark, stage)
        # Per-partition lineage: rows per file (file = unit of parallel read).
        per_file = (
            out.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        metrics = {
            "stage": stage,
            "rows": int(sum(r["count"] for r in per_file)),
            "files": len(per_file),
            "rows_per_file": {
                os.path.basename(r["file"]): int(r["count"]) for r in per_file
            },
            "elapsed_sec": round(time.time() - t0, 3),
            "format": self.format,
            "config": self.run_config,
            "config_digest": self.config_digest(),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with open(self._metrics_path(stage), "w") as fh:
            json.dump(metrics, fh, indent=1, default=str)
        return out


def local_checkpoint(df: DataFrame) -> DataFrame:
    """The package's one in-memory lineage cut: ``df``'s blocks pinned in
    executor storage, its plan replaced by a scan of them.

    Lazy (``eager=False``): the first action that consumes the result
    materializes the blocks, so ``eager=True`` would only add a
    result-stage job of its own (measured ~0.5s per sf0.1 pipeline run
    with every stage cut eagerly). Caveat (measured): under AQE, cutting a
    plan that CONTAINS shuffles runs those shuffle stages at call time
    anyway (requesting the RDD makes AdaptiveSparkPlanExec materialize its
    query stages); the laziness then only skips the final result stage.
    Local checkpoints are NOT fault-tolerant: an executor lost mid-run
    loses its blocks, and the cut lineage cannot recompute them. At
    cluster scale use ``CheckpointManager.materialize`` (a table write).
    """
    return df.localCheckpoint(eager=False)


class NoopCheckpoints(CheckpointManager):
    """In-memory runs (tests/queries): every stage is a ``local_checkpoint``,
    nothing is written."""

    enabled = False

    def __init__(self) -> None:
        super().__init__(root="")

    def materialize(self, df, stage):
        return local_checkpoint(df)


def _planned_partitions(df: DataFrame) -> int:
    """Partitions ``df``'s physical plan outputs, read off the plan without
    running a Spark job. A plan with a shuffle reports its exchange's count;
    a scan and the narrow ops over it report the scan's splits (summed over
    the plan's leaves)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        # Executing the adaptive wrapper would run its query stages.
        plan = plan.inputPlan()
    n = plan.outputPartitioning().numPartitions()
    if n == 0:
        leaves = plan.collectLeaves()
        n = sum(
            leaves.apply(i).execute().getNumPartitions() for i in range(leaves.size())
        )
    return n


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions if its plan
    outputs fewer, before expensive per-row work (input skew: a single small
    parquet file scans as ONE task, so every narrow stage downstream —
    signature UDF, token-array prep, per-pair scoring — runs on one core).
    Inputs already split at least that wide are returned unchanged, so real
    inputs arriving in many scan partitions pay no exchange."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if _planned_partitions(df) < target else df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 256,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Persist a DataFrame as a BUCKETED table and return the re-read
    handle (``spark.table``), which carries the bucketing metadata.

    This is the co-location primitive the LSH layer's scale story leans
    on: a bands table bucketed by ``band_hash`` hash-partitions every
    bucket's rows into one file group, so the downstream
    ``(band_idx, band_hash)`` cap window and groupBy in ``candidate_pairs``
    and the groupBy in ``bucket_histogram`` are satisfied by the scan's
    existing distribution — Catalyst drops their shuffles entirely (hash
    partitioning on a SUBSET of the grouping keys satisfies the clustered
    distribution). At 100 TB that shuffle is ~9 rows per doc of the whole
    corpus; writing the table bucketed once amortizes it across every
    query that groups or self-joins on the bucket key.

    ``n_buckets`` should be sized like shuffle partitions at the target
    scale (files per bucket stay parallel-readable). Requires a table
    name (bucketing metadata lives in the catalog); pass ``path`` to
    control the storage location.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return df.sparkSession.table(table)
