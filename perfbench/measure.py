"""Measurement plumbing: in-memory spans, the /proc RSS sampler and the
tail percentile.

Spans are recorded by the benchmark around its own calls into the
package's public functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: Percentiles considered for the tail, highest first.
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest ladder
    percentile with at least ten samples above it. With fewer than twenty
    samples no ladder percentile qualifies and the maximum is reported
    (percentile 100, nothing beyond)."""
    xs = sorted(samples)
    n = len(xs)
    for p in _TAIL_LADDER:
        beyond = int(n * (100.0 - p) / 100.0)
        if beyond >= 10:
            return xs[n - beyond - 1], p, beyond
    return xs[-1], 100.0, 0


class Tracer:
    """Spans (name, start, end, parent, op id) and counters, kept in memory
    and written out once at exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of every live descendant of ``root``."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
            comm[int(d)] = st[st.find("(") + 1:st.rfind(")")]
    out = []
    for pid in parent:
        p, hops = parent.get(pid), 0
        while p and p != root and hops < 64:
            p, hops = parent.get(p), hops + 1
        if p == root:
            out.append((pid, comm[pid]))
    return out


#: Thread names (as /proc shows them) of the JVM's JIT compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_cpu_ticks(path: str, children: bool) -> int:
    with open(path) as fh:
        st = fh.read()
    # fields after the command name: state, ppid, ..., utime stime cutime cstime
    f = st[st.rfind(")") + 2:].split()
    return int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if children else 0)


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds used so far by ``root`` and every live
    descendant (the driver JVM, the Python workers), each one's reaped
    children included, less the JVM's JIT compiler threads.

    Time the hypervisor steals from the machine is not in it, so it stays
    put when other tenants load the host. JIT compilation is left out
    because it trails warm-up by a varying amount; the compiler threads
    must not come and go (``-XX:-UseDynamicNumberOfCompilerThreads``).
    """
    total = 0
    for pid, comm in [(root, ""), *descendants(root)]:
        try:
            total += _stat_cpu_ticks(f"/proc/{pid}/stat", children=True)
            tids = os.listdir(f"/proc/{pid}/task") if comm == "java" else []
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().startswith(_JIT_THREADS):
                        total -= _stat_cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
            except OSError:
                continue
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    driver JVM and the Python workers), sampled from /proc by a background
    thread. The JVM counts its resident set; the forked Python workers
    count their proportional set size, so pages they share count once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        #: CPU seconds the sampling thread itself has used, which is the
        #: benchmark's cost and grows with wall time, not with the work
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def _jvm_kb(pid: int) -> int:
        # statm is a counter read; smaps_rollup would walk the JVM's page
        # tables under its mmap lock and slow the engine down.
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for pid, comm in descendants(me):
                # Short-lived helpers the JVM spawns (they briefly share its
                # address space) are neither the driver nor a worker.
                if comm == "java":
                    kind = "jvm"
                elif comm.startswith("python"):
                    kind = "python"
                else:
                    continue
                try:
                    kb = self._jvm_kb(pid) if kind == "jvm" else self._pss_kb(pid)
                except (OSError, StopIteration, ValueError, IndexError):
                    continue
                parts[kind] = parts.get(kind, 0) + kb
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)
