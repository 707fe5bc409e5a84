"""Dedup benchmark: one workload and one seed per run, one JSON result line.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Run it from the repository root; it imports ``datasketch_spark`` from
there.  Each run starts its own ``local[4]`` Spark session, sets up its
inputs three times (``setup_s`` is the session start, counted from process
start so it includes the JVM launch, plus the median input set-up), makes
the workload's untimed warm-up calls, then makes its fixed number of
measured calls and checks every call's output against the oracle.  The
counts are sized for about 15 s of measured calls on a 4-vCPU host and do
not depend on ``--seconds`` or on how fast the calls run, so two commits
compared make the same calls.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` makes one
untraced call and one traced call instead, reports the per-layer metrics, and
writes the spans and a per-layer self-time table under
``.perfbench/traces/``.  Everything the run writes stays under
``.perfbench/`` in the current directory, apart from the shuffle files
that ``get_spark`` puts in ``/dev/shm/spark-local`` in local mode; Spark
removes its directories there when it stops.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 1 when any output fails its check.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def _process_start() -> float:
    """Epoch time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROC_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "4g"
# The driver heap is fixed at DRIVER_MEMORY with a fixed young generation.
# Under G1's adaptive sizing the heap grows by GC-pause heuristics, which on
# a shared host made the peak memory of the same call vary by 15-25%
# between runs; with fixed sizes it repeats within a few percent.
YOUNG_GEN = "1g"
INPUT_SETUPS = 3

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep the files Spark and its Python workers write, other than the
    shuffle files, inside ``work``, and let the workers import the package
    from the repository root."""
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Both JVMs (spark-submit's launcher and the driver) would otherwise
    # write their perf-data files under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def start_session(work: str, event_log: bool):
    from datasketch_spark import get_spark

    # Shuffle files go where get_spark puts them (RAM-backed in local mode);
    # Spark removes its per-application directories there when it stops.
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} "
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def shutdown() -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from procmon import descendants, wait_for_exit

    engine = list(descendants(os.getpid()))
    stop_spark()
    wait_for_exit(engine)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def measured_call(wl, spark, sampler, tracer=None) -> dict:
    """One call with its CPU, memory and GC window, scored by the oracle.
    A call that raises or fails its check is recorded, not re-raised."""
    from oracle import RECALL_FLOOR

    gc0, mark0, cpu0 = jvm_gc_s(spark), sampler.mark(), time.thread_time()
    try:
        res = wl.call(spark, tracer)
    except Exception:  # noqa: BLE001 - a failed call is a measured outcome
        traceback.print_exc()
        return {"ok": False, "error": True}
    driver_cpu = time.thread_time() - cpu0
    win = sampler.window(mark0, sampler.mark())
    gc = jvm_gc_s(spark) - gc0
    try:
        recall, precision, problems = wl.check(spark, res)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        recall, precision, problems = 0.0, 0.0, ["check raised"]
    if recall < RECALL_FLOOR:
        problems.append(f"dup_pair_recall {recall:.4f} < {RECALL_FLOOR}")
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    return {
        "ok": not problems,
        "error": False,
        "wall_s": res.wall_s,
        "latencies": res.latencies,
        "progress": res.progress,
        "cpu_s": win["jvm_cpu_s"] + win["python_cpu_s"] + driver_cpu,
        "jvm_cpu_s": win["jvm_cpu_s"],
        "python_cpu_s": win["python_cpu_s"] + driver_cpu,
        "gc_s": gc,
        "peak_pss_mb": win["peak_pss_mb"],
        "recall": recall,
        "precision": precision,
    }


def end_to_end(wl, calls: list[dict], setup_s: float) -> dict:
    done = [c for c in calls if not c["error"]]
    if not done:
        return {}
    kdocs = wl.docs / 1000.0
    return {
        "docs_per_s": wl.docs / statistics.median(c["wall_s"] for c in done),
        "microbatch_p50_s": statistics.median(x for c in done for x in c["latencies"]),
        "core_s_per_kdoc": statistics.median(c["cpu_s"] for c in done) / kdocs,
        "dup_pair_recall": min(c["recall"] for c in done),
        "dup_pair_precision": min(c["precision"] for c in done),
        "peak_mem_mb": statistics.median(c["peak_pss_mb"] for c in done),
        "setup_s": setup_s,
    }


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def add_progress_spans(tracer, parent: int, progress: list[dict]) -> None:
    """Microbatch spans rebuilt from StreamingQueryProgress: the batch
    spans triggerExecution; addBatch follows latestOffset, walCommit,
    getBatch and queryPlanning, which run before it."""
    for p in progress:
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        batch = tracer.add("claims.batch", start, start + d["triggerExecution"] / 1000.0, parent,
                           rows=p["numInputRows"])
        before = sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning")) / 1000.0
        tracer.add("claims.add_batch", start + before, start + before + d.get("addBatch", 0) / 1000.0, batch)


def layer_metrics(wl, tracer, stages, first_run_s, untraced, traced, host) -> dict:
    from spans import stages_in

    def spans(name):
        return [i for i, s in enumerate(tracer.spans) if s.name == name]

    def self_s(name):
        return sum(tracer.self_time(i) for i in spans(name))

    def count(name, key):
        return sum(tracer.spans[i].counts.get(key, 0) for i in spans(name))

    def ratio(a, b):
        return a / b if b else 0.0

    def shuffle_bytes(name):
        total = 0
        for i in spans(name):
            total += stages_in(stages, tracer.spans[i])["shuffle_write_bytes"]
            for c in tracer.spans:
                if c.parent == i and c.name == "trace.count":
                    total -= stages_in(stages, c)["shuffle_write_bytes"]
        return total

    sig_py = count("signature", "python_cpu_s")
    progress = traced["progress"]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    pipeline = spans("pipeline")
    return {
        "setup.session_s": tracer.by_name("setup.session")[0].duration,
        "setup.input_s": med([s.duration for s in tracer.by_name("setup.input")]),
        "signature.s": self_s("signature"),
        "signature.python_cpu_s": sig_py,
        "signature.docs_per_core_s": ratio(count("signature", "rows"), sig_py),
        "signature.token_repeat_ratio": wl.repeat_ratio(),
        "bands.s": self_s("bands"),
        "bands.rows": count("bands", "rows"),
        "pairs.s": self_s("pairs"),
        "pairs.expanded_rows": count("pairs", "expanded_rows"),
        "pairs.rows": count("pairs", "rows"),
        "pairs.unique_ratio": ratio(count("pairs", "rows"), count("pairs", "expanded_rows")),
        "pairs.shuffle_bytes": shuffle_bytes("pairs"),
        "pairs.dropped_buckets": count("pairs", "dropped_buckets"),
        "verify.s": self_s("verify"),
        "verify.in_pairs": count("verify", "in_pairs"),
        "verify.pass_ratio": ratio(count("verify", "rows"), count("verify", "in_pairs")),
        "cc.s": self_s("cc"),
        "cc.edges": count("cc", "edges"),
        "cc.distributed": count("cc", "distributed"),
        "cc.attach_s": self_s("cc.attach"),
        "substring.fingerprints_s": self_s("substring.fingerprints"),
        "substring.fingerprints": count("substring.fingerprints", "rows"),
        "substring.candidates_s": self_s("substring.candidates"),
        "substring.candidates": count("substring.candidates", "rows"),
        "substring.verify_s": self_s("substring.verify"),
        "substring.edges": count("substring.verify", "rows"),
        "substring.pass_ratio": ratio(count("substring.verify", "rows"), count("substring.candidates", "rows")),
        "pipeline.s": sum(tracer.spans[i].duration for i in pipeline),
        "pipeline.unattributed_s": sum(tracer.self_time(i) for i in pipeline),
        "clusters.write_s": self_s("clusters.write"),
        "claims.batch_s": med(trig),
        "claims.add_batch_s": med(add),
        "claims.lifecycle_s": med([t - a for t, a in zip(trig, add)]),
        "claims.groups_per_batch": med([s["numRowsUpdated"] for s in state]),
        "claims.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "claims.state_mem_mb": state[-1]["memoryUsedBytes"] / 2**20 if state else 0.0,
        "claims.state_commit_s": med([s["commitTimeMs"] / 1000.0 for s in state]),
        "proc.jvm_cpu_s": untraced["jvm_cpu_s"],
        "proc.python_cpu_s": untraced["python_cpu_s"],
        "proc.gc_s": untraced["gc_s"],
        "host.steal_ratio": host["steal_ratio"],
        "first_run_s": first_run_s,
        "trace.overhead_ratio": traced["wall_s"] / untraced["wall_s"] - 1.0,
    }


def run(args, work: str) -> tuple[dict, int]:
    from procmon import HostTelemetry, ProcessSampler
    from spans import Tracer, instrument, read_stage_metrics
    from workloads import BATCH_TARGETS, WORKLOADS, StreamClaims

    host = HostTelemetry()
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    wl = WORKLOADS[args.workload](work)
    with ProcessSampler() as sampler:
        tracer = Tracer(run_id, sampler if args.trace else None)
        spark = start_session(work, event_log=bool(args.trace))
        t_up = time.time()
        tracer.add("setup.session", PROC_START, t_up, None)
        inputs = []
        for _ in range(INPUT_SETUPS):
            with tracer.span("setup.input") as sp:
                wl.materialize(spark, args.seed)
            inputs.append(sp.duration)
        setup_s = (t_up - PROC_START) + statistics.median(inputs)
        with tracer.span("oracle"):
            wl.prepare_oracle(spark)

        for _ in range(wl.warmup_calls):
            with tracer.span("warmup"):
                wl.warmup(spark)
        first_run_s = tracer.by_name("warmup")[0].duration

        calls = []
        if args.trace:
            # The untraced call is the reference for the tracing overhead.
            with tracer.span("call.untraced"):
                calls.append(measured_call(wl, spark, sampler))
            idx = len(tracer.spans)
            if isinstance(wl, StreamClaims):
                with tracer.span("call.traced"):
                    calls.append(measured_call(wl, spark, sampler))
                add_progress_spans(tracer, idx, calls[-1].get("progress", []))
            else:
                with instrument(tracer, BATCH_TARGETS), tracer.span("call.traced"):
                    calls.append(measured_call(wl, spark, sampler, tracer))
        else:
            for _ in range(wl.measured_calls):
                with tracer.span("call"):
                    calls.append(measured_call(wl, spark, sampler))
        with tracer.span("stop"):
            shutdown()

    host_info = host.read()
    failed = sum(1 for c in calls if not c["ok"])
    print(f"workload {args.workload} seed {args.seed}: {wl.docs} docs, {len(calls)} measured calls, "
          f"{failed} failed, {sum(len(c.get('latencies', [])) for c in calls)} latency samples, "
          f"first_run_s {first_run_s:.3f}")
    print("phases: " + ", ".join(
        f"{name} {'/'.join(f'{s.duration:.1f}' for s in tracer.by_name(name))}s"
        for name in ("setup.session", "setup.input", "oracle", "warmup", "call", "stop")
        if tracer.by_name(name)
    ) + f", total {time.time() - PROC_START:.1f}s")
    print(f"host: steal_ratio {host_info['steal_ratio']:.4f} loadavg {host_info['loadavg_start']} -> {host_info['loadavg_end']}")
    if args.trace:
        if any(c["error"] for c in calls):
            raise RuntimeError("a traced-run call raised; no per-layer figures")
        stages = read_stage_metrics(os.path.join(work, "eventlog"))
        values = layer_metrics(wl, tracer, stages, first_run_s, calls[-2], calls[-1], host_info)
        units = PER_LAYER
        write_trace(args, tracer, stages, values, host_info)
    else:
        values = end_to_end(wl, calls, setup_s)
        units = END_TO_END
    metrics = {name: {"value": values[name], "unit": units[name]} for name in units if name in values}
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and len(metrics) == len(units)
    result = {"correct": correct, "attempted": len(calls), "failed": failed, "metrics": metrics}
    return result, 0 if correct else 1


def write_trace(args, tracer, stages, values, host_info) -> None:
    from spans import format_table, stages_in

    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    root = next(i for i, s in enumerate(tracer.spans) if s.name == "call.traced")
    inside = {root} | tracer.descendants(root)
    table = tracer.layer_table()
    for row in table:
        own = [i for i in inside if tracer.spans[i].name == row["layer"]]
        row["share_of_traced_call"] = (
            sum(tracer.self_time(i) for i in own) / tracer.spans[root].duration if own else None
        )
    doc = {
        "run_id": tracer.run_id,
        "spans": tracer.to_json(),
        "stages_by_span": [
            dict(name=s.name, **stages_in(stages, s)) for s in tracer.spans if s.name != "trace.count"
        ],
        "layers": table,
        "metrics": values,
        "host": host_info,
        "tracing_overhead": (
            "tracing overhead: the traced call took {:+.1%} against the untraced "
            "call of the same run (it forces every layer's output)".format(values["trace.overhead_ratio"])
        ),
    }
    with open(base + ".json", "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    text = format_table(table) + "\n\n" + doc["tracing_overhead"] + "\n"
    with open(base + ".md", "w") as fh:
        fh.write(text)
    print(text)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    prepare_environment(work)
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result, code = run(args, work)
    except Exception:  # noqa: BLE001 - any failure means no result line
        traceback.print_exc()
        return 1
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
