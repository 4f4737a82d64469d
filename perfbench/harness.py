"""Measurement core of the benchmark: spans, summary statistics, host
calibration and process memory. Imports nothing from the engine, so the
unit tests run without Spark."""

from __future__ import annotations

import itertools
import math
import os
import re
import resource
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# A tail needs this many samples strictly beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(samples: list[float], preferred: float) -> tuple[float, float, int]:
    """Latency at the highest percentile, at most `preferred`, that has at
    least TAIL_BEYOND samples strictly beyond it (nearest rank).

    Returns (value, percentile, sample count). A fixed percentile stays
    comparable when a run completes one pass more or less than another;
    it is lowered only when the sample is too small to support it.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    s = sorted(samples)
    # nearest rank: index k holds percentile 100*(k+1)/n; keep n-1-k >= TAIL_BEYOND
    k = min(math.ceil(preferred / 100 * n) - 1, n - 1 - TAIL_BEYOND)
    k = max(k, 0)
    return s[k], 100.0 * (k + 1) / n, n


def check_metric_names(names) -> None:
    bad = [n for n in names if not METRIC_NAME.match(n)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")


# -- host calibration ------------------------------------------------------

SPIN_ITERS = 3_000_000


def _spin(iters: int) -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(iters):
        s += i * i
    if s < 0:  # never true; keeps the loop's result used
        raise AssertionError
    return time.perf_counter() - t0


_SPIN_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from harness import _spin
sys.stdin.read(1)
print(_spin(int(sys.argv[2])))
"""


def host_spins(n_procs: int) -> tuple[float, float]:
    """(single-core spin seconds, slowest of `n_procs` concurrent spins).

    The concurrent spin catches multi-core throttling and neighbours that
    a single-core spin misses. Each spinner is a plain child process that
    waits for a byte on stdin, so they all start together; every one has
    ended when this returns."""
    one = _spin(SPIN_ITERS)
    here = os.path.dirname(os.path.abspath(__file__))
    procs = []
    try:
        for _ in range(n_procs):
            procs.append(
                subprocess.Popen(
                    [sys.executable, "-c", _SPIN_CHILD, here, str(SPIN_ITERS)],
                    stdin=subprocess.PIPE,
                    stdout=subprocess.PIPE,
                    text=True,
                )
            )
        for p in procs:
            p.stdin.write("x")
            p.stdin.close()
        times = [float(p.stdout.read()) for p in procs]
        for p in procs:
            p.wait(timeout=30)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    return one, max(times)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs were runnable, summed over CPUs, since boot (0 where the kernel
    does not report it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


# -- memory ----------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out when the benchmark ends.

    A span with no parent starts an operation; its children share its
    operation id. When disabled, `span` costs one branch and records
    nothing. `on_enter`, if set, is called with the operation id and span
    name whenever a span becomes the innermost one.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.on_enter = None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            parent=parent.id if parent else None,
            op=op if parent is None else parent.op,
            name=name,
            start=time.time(),
        )
        self._stack.append(s)
        if self.on_enter:
            self.on_enter(s.op, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.on_enter and parent is not None:
                self.on_enter(parent.op, parent.name)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus what its direct children cover."""
        out = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None and s.parent in out:
                out[s.parent] -= s.seconds
        return out
