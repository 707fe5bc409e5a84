"""Process-tree CPU/memory sampler and host telemetry, read from /proc.

The Spark JVM is a child of the benchmark process and the PySpark daemon
and its Python workers are children of the JVM, so one walk over this
process's descendants finds every process the engine runs in.  CPU is
split into JVM and Python; memory is the summed proportional set size
(PSS), which counts pages shared between forked Python workers once.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, utime+stime seconds) from /proc/<pid>/stat."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm is parenthesised and may contain spaces; split after the last ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    rest = raw[rpar + 2 :].split()
    ppid = int(rest[1])
    cpu = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    return comm, ppid, cpu


def _pss_kb(pid: int) -> int:
    raw = _read(f"/proc/{pid}/smaps_rollup")
    if raw is None:
        return 0
    for line in raw.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def descendants(root: int) -> dict[int, tuple[str, float]]:
    """{pid: (comm, cpu_s)} for every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        got = _stat_fields(int(name))
        if got is None:
            continue
        comm, ppid, cpu = got
        children.setdefault(ppid, []).append(int(name))
        info[int(name)] = (comm, cpu)
    out: dict[int, tuple[str, float]] = {}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        if pid in info:
            out[pid] = info[pid]
        stack.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    raw = _read(f"/proc/{pid}/stat")
    return raw is not None and raw[raw.rindex(")") + 2] != "Z"


def wait_for_exit(pids, timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has exited; kill those still
    running after ``timeout_s``.  Pass the engine's processes as seen
    before the JVM stops: its Python workers outlive it briefly, and once
    orphaned they are no longer this process's descendants."""
    deadline = time.time() + timeout_s
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            return
        time.sleep(0.1)


def _kind(comm: str) -> str | None:
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "python"
    return None


class ProcessSampler:
    """Background sampler of the engine's process tree.

    ``mark()`` returns an opaque snapshot; ``window(a, b)`` gives the CPU
    seconds (JVM / Python workers) spent between two marks and the peak
    summed PSS seen between them.  CPU of a worker that exits between two
    samples is counted up to its last sample.
    """

    interval_s = 0.2

    def __init__(self) -> None:
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._cpu: dict[int, tuple[str, float]] = {}
        self._pss: list[tuple[float, float]] = []  # (time, MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)

    def __enter__(self) -> "ProcessSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> None:
        tree = descendants(self.root)
        pss_mb = sum(_pss_kb(pid) for pid, (comm, _) in tree.items() if _kind(comm)) / 1024.0
        now = time.time()
        with self._lock:
            for pid, (comm, cpu) in tree.items():
                if _kind(comm):
                    self._cpu[pid] = (comm, cpu)
            self._pss.append((now, pss_mb))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def mark(self) -> dict:
        self._sample()
        with self._lock:
            return {"t": time.time(), "cpu": dict(self._cpu)}

    def window(self, a: dict, b: dict) -> dict:
        cpu = {"jvm": 0.0, "python": 0.0}
        for pid, (comm, end) in b["cpu"].items():
            start = a["cpu"].get(pid, (comm, 0.0))[1]
            cpu[_kind(comm)] += max(0.0, end - start)
        with self._lock:
            peak = max((m for t, m in self._pss if a["t"] <= t <= b["t"]), default=0.0)
        return {"jvm_cpu_s": cpu["jvm"], "python_cpu_s": cpu["python"], "peak_pss_mb": peak}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostTelemetry:
    """Steal share of host CPU time (from /proc/stat deltas) and load
    average over an interval.  A high steal share means another guest took
    this machine's CPUs during the run, which explains a noisy figure."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()
        self._load0 = os.getloadavg()

    def read(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1  # user..steal; guest time is inside user
        return {
            "steal_ratio": delta[7] / total,
            "loadavg_start": list(self._load0),
            "loadavg_end": list(os.getloadavg()),
        }
