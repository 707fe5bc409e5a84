"""Spans around calls into the package's public functions.

A traced run patches a fixed list of public functions for the duration of
one call.  Each patched function runs inside a span, and because Spark
DataFrames are lazy, the wrapper forces the returned DataFrame
(``localCheckpoint(eager=True)``) so the span holds the layer's work.
Forcing changes the physical plan, which is why end-to-end metrics come
from untraced runs only.  Spans live in memory and are written once, as
JSON, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import inspect
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, sampler=None) -> None:
        self.run_id = run_id
        self.sampler = sampler
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        mark = self.sampler.mark() if self.sampler else None
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            if mark is not None:
                win = self.sampler.window(mark, self.sampler.mark())
                sp.counts["jvm_cpu_s"] = win["jvm_cpu_s"]
                sp.counts["python_cpu_s"] = win["python_cpu_s"]

    def add(self, name: str, start: float, end: float, parent: int | None, **counts) -> int:
        """Record a span whose interval is known after the fact (streaming
        progress reports); returns its index for use as a parent."""
        self.spans.append(Span(name, start, end, parent, self.run_id, counts))
        return len(self.spans) - 1

    def self_time(self, index: int) -> float:
        return span_self_time(self.spans, index)

    def descendants(self, index: int) -> set[int]:
        """Indices of every span below ``index`` in the span tree."""
        out: set[int] = set()
        for i, sp in enumerate(self.spans):  # parents precede their children
            if sp.parent == index or sp.parent in out:
                out.add(i)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def layer_table(self) -> list[dict]:
        """Total and self time per span name, in first-seen order."""
        rows: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            row = rows.setdefault(sp.name, {"layer": sp.name, "calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += sp.duration
            row["self_s"] += self.self_time(i)
        return list(rows.values())

    def to_json(self) -> list[dict]:
        return [dict(asdict(s), duration=s.duration, self_s=self.self_time(i)) for i, s in enumerate(self.spans)]


def span_self_time(spans: list[Span], index: int) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, and children are
    clipped to the parent's interval)."""
    sp = spans[index]
    ivs = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in spans
        if c.parent == index and c.end > sp.start and c.start < sp.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return sp.duration - covered


def format_table(rows: list[dict]) -> str:
    """Markdown table of ``Tracer.layer_table`` rows; ``share`` is the
    layer's self time inside the traced call as a share of that call."""
    lines = ["| layer | calls | total_s | self_s | share |", "|---|---|---|---|---|"]
    for r in rows:
        share = r.get("share_of_traced_call")
        share = "" if share is None else f"{share:.1%}"
        lines.append(f"| {r['layer']} | {r['calls']} | {r['total_s']:.3f} | {r['self_s']:.3f} | {share} |")
    return "\n".join(lines)


def _force(df):
    return df.localCheckpoint(eager=True)


@contextlib.contextmanager
def instrument(tracer: Tracer, targets: list[tuple[str, str, str, object]]):
    """Patch ``module.attr`` for each (module, attr, span name, counter)
    target.  The wrapper runs the original inside a span, forces its
    DataFrame result, and then calls ``counter(span, arguments, out)``
    (arguments bound by name, defaults applied) inside a child
    ``trace.count`` span, so counting is not billed to the layer's self
    time.  Originals are restored on exit."""
    saved = []
    try:
        for mod_name, attr, span_name, counter in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, _wrap(tracer, orig, span_name, counter))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def _wrap(tracer: Tracer, fn, span_name: str, counter):
    sig = inspect.signature(fn)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as sp:
            out = _force(fn(*args, **kwargs))
            if counter is not None:
                with tracer.span("trace.count"):
                    bound = sig.bind(*args, **kwargs)
                    bound.apply_defaults()
                    counter(sp, bound.arguments, out)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


# --- Spark event log -------------------------------------------------------

_ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
}


def read_stage_metrics(log_dir: str) -> list[dict]:
    """Completed stages from every ``file://`` event log under ``log_dir``:
    completion time (epoch s) plus shuffle-write bytes, task run and CPU
    time, GC time and spill."""
    stages = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                row = {v: 0 for v in _ACC.values()}
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        row[key] = int(acc.get("Value", 0))
                row["stage_id"] = info["Stage ID"]
                row["completed"] = info.get("Completion Time", 0) / 1000.0
                stages.append(row)
    return stages


def stages_in(stages: list[dict], span: Span) -> dict:
    """Sum the stage metrics of stages that completed inside ``span``."""
    out = {v: 0 for v in _ACC.values()}
    out["stages"] = 0
    for st in stages:
        if span.start <= st["completed"] <= span.end:
            out["stages"] += 1
            for v in _ACC.values():
                out[v] += st[v]
    return out
