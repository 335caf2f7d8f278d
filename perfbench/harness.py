"""Measurement plumbing shared by the workloads.

- :class:`Tracer` wraps each call into a public engine function in a span.
  A span times the call itself (``call_ms``, eager driver work) and the
  benchmark's sink action on what the call returned (``exec_ms``). With
  tracing on, each span also tags its Spark jobs with its own job group,
  so the event log can be cut per span afterwards.
- :class:`Probe` samples host and process state that is not a metric of
  the engine: CPU steal from ``/proc/stat`` and the peak resident memory
  of the driver process tree.
- :func:`quantile` / :func:`median` are the only statistics used.

Spans stay in memory until the run ends; nothing here writes a file.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

CORES = len(os.sched_getaffinity(0))


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


@dataclass
class Span:
    """One call into a public engine function and the sink on its result."""

    name: str
    op: str
    seq: int
    t0_ms: float = 0.0  # epoch ms, comparable with event-log timestamps
    t1_ms: float = 0.0
    call_ms: float = 0.0
    exec_ms: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.name}#{self.seq}"

    def call(self, fn, *args, **kw):
        t = time.perf_counter()
        out = fn(*args, **kw)
        self.call_ms += (time.perf_counter() - t) * 1e3
        return out

    def sink(self, fn, *args, **kw):
        t = time.perf_counter()
        out = fn(*args, **kw)
        self.exec_ms += (time.perf_counter() - t) * 1e3
        return out

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class Tracer:
    """Span factory. Disabled, it still runs and times the calls but sets
    no job group and keeps no span, so an untraced run pays nothing for
    the per-layer view."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        self._op = ""

    def begin_op(self, op: str) -> None:
        """Name the user operation the next spans belong to (their parent)."""
        self._op = op

    def span(self, name: str) -> "_SpanCtx":
        self._seq += 1
        return _SpanCtx(self, Span(name, self._op, self._seq))


class _SpanCtx:
    def __init__(self, tracer: Tracer, span: Span):
        self.tracer = tracer
        self.span = span

    def __enter__(self) -> Span:
        if self.tracer.enabled:
            self.tracer.sc.setJobGroup(self.span.group, self.span.name)
        self.span.t0_ms = time.time() * 1e3
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.t1_ms = time.time() * 1e3
        if self.tracer.enabled:
            self.tracer.sc.setJobGroup("bench#idle", "between spans")
            self.tracer.spans.append(self.span)


def dir_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # removed between listing and stat
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files present in ``after`` that are new or rewritten."""
    return sum(s for p, s in after.items() if before.get(p) != s)


def _steal_and_total() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    ticks = [int(x) for x in parts[1:]]
    return ticks[7], sum(ticks[:8])  # steal is the 8th field of `cpu`


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class Probe:
    """Host-noise and memory probe for one run.

    Peak RSS is the sum over the driver's process tree (this Python
    driver, the JVM and the Python workers) of each process's own
    high-water mark, sampled whenever :meth:`sample` is called and once
    more at the end, so a worker that exits early still counts."""

    def __init__(self):
        self._steal0, self._total0 = _steal_and_total()
        self._t0 = time.time()
        self._hwm: dict[int, int] = {}

    def sample(self) -> None:
        for pid in _tree_pids(os.getpid()):
            kb = _hwm_kb(pid)
            if kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb

    def peak_rss_mb(self) -> float:
        self.sample()
        return sum(self._hwm.values()) / 1024.0

    def steal(self) -> dict:
        steal, total = _steal_and_total()
        d_total = max(total - self._total0, 1)
        secs = max(time.time() - self._t0, 1e-9)
        return {
            "steal_frac": (steal - self._steal0) / d_total,
            "steal_ticks_per_s": (steal - self._steal0) / secs,
        }
