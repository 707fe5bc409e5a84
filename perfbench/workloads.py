"""The benchmark's three workloads.

Each workload materializes its inputs from the seed (``materialize``),
builds its oracle from those inputs (``prepare_oracle``), runs one
measured call of the package (``call``) and scores that call's output
(``check``).  The package only ever sees the generated inputs.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

from pyspark.sql import functions as F

import corpus
import oracle
from datasketch_spark import DedupConfig
from datasketch_spark.operators.dedup import dedup_pipeline
from datasketch_spark.operators.lsh import bands_table, with_signature
from datasketch_spark.sources.pages import synth_pages
from datasketch_spark.streaming.dedup_stream import streaming_lsh_claims


def _no_span(name: str):
    return contextlib.nullcontext()


# Each workload's ``warmup_calls`` and ``measured_calls`` are fixed, so every
# commit and every host load gets the same calls.  The JVM keeps compiling
# for many calls after the first: on crawl_full (1500 docs, 4-vCPU host),
# call wall time fell 28% and compiler-thread CPU by three quarters from the
# second call to the tenth.  Calls measured on that slope move with how fast
# the host lets the compiler catch up, so each batch workload first makes
# several calls on a small warm-up input (the compiled code depends on the
# number of calls, not their size) and then measures fewer, larger calls.


class CallResult:
    """One measured call: wall time, latency samples, and the handle the
    workload's ``check`` needs to read the call's output."""

    def __init__(self, wall_s: float, latencies: list[float], output, progress=None):
        self.wall_s = wall_s
        self.latencies = latencies
        self.output = output
        self.progress = progress or []


class Workload:
    """What every workload keeps about its inputs for the oracle."""

    cfg: DedupConfig
    truth_level: float  # exact Jaccard at which (b, r) detects a pair with p >= 0.99

    def __init__(self, work: str) -> None:
        self.work = work
        self.truth: set = set()
        self.label_of: dict = {}
        self.docs = 0
        self.texts: list = []

    def learn_inputs(self, urls: list, texts: list, labels: list) -> None:
        self.label_of = dict(zip(urls, labels))
        self.truth = oracle.truth_pairs(urls, texts, labels, self.truth_level, self.cfg.shingle_k)
        self.docs = len(urls)
        self.texts = texts

    def repeat_ratio(self) -> float:
        return corpus.token_repeat_ratio(self.texts, self.cfg.shingle_k)


class BatchWorkload(Workload):
    """``dedup_pipeline`` over a parquet input, clusters written to parquet."""

    substring_pass = False
    n_docs: int
    warmup_docs: int
    warmup_calls: int

    def __init__(self, work: str) -> None:
        super().__init__(work)
        self.input_path = os.path.join(work, "input")
        self.output_path = os.path.join(work, "clusters")
        self.warmup_input = os.path.join(work, "warmup_input")
        self.warmup_output = os.path.join(work, "warmup_clusters")

    def write_input(self, spark, seed: int, n_docs: int, path: str) -> None:
        raise NotImplementedError

    def labels(self, urls) -> list:
        raise NotImplementedError

    def materialize(self, spark, seed: int) -> None:
        self.write_input(spark, seed, self.n_docs, self.input_path)
        self.write_input(spark, seed, self.warmup_docs, self.warmup_input)

    def prepare_oracle(self, spark) -> None:
        pdf = spark.read.parquet(self.input_path).select("url", "text").toPandas()
        urls = list(pdf["url"])
        self.learn_inputs(urls, list(pdf["text"]), self.labels(urls))

    def warmup(self, spark) -> None:
        self._run(spark, self.warmup_input, self.warmup_output)

    def call(self, spark, tracer=None) -> CallResult:
        return self._run(spark, self.input_path, self.output_path, tracer)

    def _run(self, spark, input_path: str, output_path: str, tracer=None) -> CallResult:
        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        with span("pipeline"):
            pages = spark.read.parquet(input_path)
            stages = dedup_pipeline(pages, self.cfg, substring_pass=self.substring_pass)
        with span("clusters.write"):
            stages["clusters"].select("url", "cluster_id").write.mode("overwrite").parquet(output_path)
        wall = time.perf_counter() - t0
        return CallResult(wall, [wall], output_path)

    def check(self, spark, result: CallResult) -> tuple[float, float, list[str]]:
        pdf = spark.read.parquet(result.output).toPandas()
        assign = dict(zip(pdf["url"], pdf["cluster_id"]))
        problems = []
        if len(assign) != self.docs or len(pdf) != self.docs:
            problems.append(f"clusters cover {len(assign)} distinct urls in {len(pdf)} rows, input has {self.docs}")
        recall, precision = oracle.score_clusters(assign, self.truth, self.label_of)
        return recall, precision, problems


class CrawlFull(BatchWorkload):
    """The north-rule pipeline as shipped: ``sources.pages`` input,
    threshold 0.8 (b, r = 9, 13), exact-substring pass on."""

    name = "crawl_full"
    n_docs = 4000
    warmup_docs = 400
    warmup_calls = 5
    measured_calls = 3
    cfg = DedupConfig(threshold=0.8)
    substring_pass = True
    truth_level = 0.95

    def write_input(self, spark, seed: int, n_docs: int, path: str) -> None:
        synth_pages(spark, n_docs, seed=seed).write.mode("overwrite").parquet(path)

    def labels(self, urls) -> list:
        return [corpus.crawl_label(u) for u in urls]


class TemplatedDense(BatchWorkload):
    """Mirrored and templated pages in heavy-tailed clusters, threshold
    0.5 (b, r = 25, 5), no substring pass."""

    name = "templated_dense"
    n_docs = 3000
    warmup_docs = 300
    warmup_calls = 5
    measured_calls = 3
    max_cluster = 40
    cfg = DedupConfig(threshold=0.5)
    truth_level = 0.7

    def write_input(self, spark, seed: int, n_docs: int, path: str) -> None:
        pdf, _ = corpus.templated_pages(n_docs, seed, self.max_cluster)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    def labels(self, urls) -> list:
        return corpus.templated_labels(urls)


class StreamClaims(Workload):
    """``streaming_lsh_claims`` (b, r = 25, 5, no retention) draining a
    parquet backlog with one ``availableNow`` query, one file per
    microbatch.  Closed loop: a microbatch starts only after the previous
    one commits, and state grows across the drain.  The warm-up drains a
    copy of the first few backlog files: a streaming plan does not depend
    on input size, and each microbatch runs it once, so a short drain warms
    the same code."""

    name = "stream_claims"
    files = 12
    docs_per_file = 50
    warmup_files = 6
    warmup_calls = 1
    measured_calls = 1
    cfg = DedupConfig(threshold=0.5)
    truth_level = 0.7

    def __init__(self, work: str) -> None:
        super().__init__(work)
        self.backlog = os.path.join(work, "backlog")
        self.warmup_backlog = os.path.join(work, "warmup_backlog")
        self.expected: set = set()
        self._queries = 0

    def materialize(self, spark, seed: int) -> None:
        n = self.files * self.docs_per_file
        (
            synth_pages(spark, n, seed=seed, partitions=self.files)
            .select("url", "text")
            .write.mode("overwrite")
            .parquet(self.backlog)
        )
        shutil.rmtree(self.warmup_backlog, ignore_errors=True)
        os.makedirs(self.warmup_backlog)
        for part in sorted(glob.glob(os.path.join(self.backlog, "part-*.parquet")))[: self.warmup_files]:
            shutil.copy(part, self.warmup_backlog)

    def prepare_oracle(self, spark) -> None:
        docs = spark.read.parquet(self.backlog)
        pdf = docs.toPandas()
        urls = list(pdf["url"])
        self.learn_inputs(urls, list(pdf["text"]), [corpus.crawl_label(u) for u in urls])
        # The claims must equal the batch banding of the same docs.
        sigs = with_signature(docs, self.cfg).select("url", "sig")
        rows = bands_table(sigs, self.cfg, key_col="url").collect()
        self.expected = {(r["band_idx"], r["band_hash"], r["url"]) for r in rows}

    def warmup(self, spark) -> None:
        spark.catalog.dropTempView(self._drain(spark, self.warmup_backlog).output)

    def call(self, spark, tracer=None) -> CallResult:
        return self._drain(spark, self.backlog)

    def _drain(self, spark, backlog: str) -> CallResult:
        self._queries += 1
        name = f"claims_{self._queries}"
        ckpt = os.path.join(self.work, f"ckpt_{self._queries}")
        stream = (
            spark.readStream.schema("url string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(backlog)
        )
        writer = (
            streaming_lsh_claims(stream, self.cfg, key_col="url")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        t0 = time.perf_counter()
        query = writer.start()
        finished = query.awaitTermination(120)
        wall = time.perf_counter() - t0
        if not finished:
            query.stop()
            raise TimeoutError(f"stream drain did not finish in 120 s ({name})")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        latencies = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        return CallResult(wall, latencies, name, progress)

    def check(self, spark, result: CallResult) -> tuple[float, float, list[str]]:
        rows = spark.table(result.output).select(
            "band_idx", "band_hash", "url", "first_url", "prior_count"
        ).collect()
        spark.catalog.dropTempView(result.output)
        claims = [tuple(r) for r in rows]
        problems = oracle.check_claims(claims, self.expected)
        if len(result.progress) != self.files:
            problems.append(f"{len(result.progress)} data microbatches, expected {self.files}")
        recall, precision = oracle.score_claims(claims, self.truth, self.label_of)
        return recall, precision, problems


WORKLOADS = {w.name: w for w in (CrawlFull, TemplatedDense, StreamClaims)}


# --- traced-run instrumentation of batch calls -----------------------------


def _rows(span, args, out) -> None:
    span.counts["rows"] = out.count()


def _pairs(span, args, out) -> None:
    cap = args["cfg"].bucket_cap
    n = F.col("count")
    row = (
        args["bands"].groupBy("band_idx", "band_hash").count()
        .agg(
            F.sum(F.when((n >= 2) & (n <= cap), n * (n - 1) / 2).otherwise(0)).alias("expanded"),
            F.sum(F.when(n > cap, 1).otherwise(0)).alias("dropped"),
        )
        .first()
    )
    span.counts.update(rows=out.count(), expanded_rows=int(row["expanded"] or 0), dropped_buckets=int(row["dropped"] or 0))


def _verify(span, args, out) -> None:
    span.counts.update(in_pairs=args["pairs"].count(), rows=out.count())


def _cc(span, args, out) -> None:
    edges = args["edges"].count()
    span.counts.update(edges=edges, distributed=int(edges > args["driver_max_edges"]))


BATCH_TARGETS = [
    ("datasketch_spark.operators.lsh", "with_signature", "signature", _rows),
    ("datasketch_spark.operators.lsh", "bands_table", "bands", _rows),
    ("datasketch_spark.operators.lsh", "candidate_pairs", "pairs", _pairs),
    ("datasketch_spark.operators.dedup", "verify_pairs_est", "verify", _verify),
    ("datasketch_spark.operators.dedup", "connected_components_auto", "cc", _cc),
    ("datasketch_spark.operators.dedup", "attach_cluster_ids", "cc.attach", None),
    ("datasketch_spark.operators.suffix", "fingerprints_table", "substring.fingerprints", _rows),
    ("datasketch_spark.operators.suffix", "substring_candidates", "substring.candidates", _rows),
    ("datasketch_spark.operators.suffix", "verify_substring_pairs", "substring.verify", _rows),
]
