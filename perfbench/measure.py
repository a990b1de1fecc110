"""Benchmark arithmetic and bookkeeping that needs no Spark.

Spans (a name, an interval and a parent), the job-interval union behind
``driver_s``, span self time, the tail-percentile rule, quartile spreads,
and CPU / RSS readings of this process and every process it started
(the Spark JVM and its Python workers), taken from ``/proc``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# intervals, percentiles, spreads
# ---------------------------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``[(start, end), ...]``, each clipped to
    ``[lo, hi]`` when given. Overlaps count once; empty intervals count 0."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail(samples, beyond: int = 10):
    """The highest percentile that has at least ``beyond`` samples above it.

    With ``n`` samples sorted ascending, that is the sample at 0-based
    index ``n - beyond - 1``: exactly ``beyond`` samples lie after it. The
    percentile is its nearest-rank position, ``100 * (n - beyond) / n``.
    Returns ``(percentile, value, n)``, or ``None`` when ``n <= beyond``.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1], n


def quartile_spread(values) -> float:
    """Inter-quartile distance as a share of the median
    (``statistics.quantiles(values, n=4)``, the default exclusive method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def median_or_none(values):
    values = list(values)
    return statistics.median(values) if values else None


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    workload: str
    op_id: int
    start: float  # epoch seconds, so it lines up with Spark's job timestamps
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "workload": self.workload, "op_id": self.op_id,
            "start": self.start, "end": self.end,
        }


class Tracer:
    """Records spans around calls into the package.

    Disabled, ``span`` only yields ``None``: the untraced run pays one
    generator per call and nothing else. Enabled, each span is kept in
    memory and ``on_enter(span)`` / ``on_exit(span, parent)`` let the
    caller tag the Spark jobs that run inside it.
    """

    def __init__(self, enabled: bool, workload: str, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str, op_id: int = -1):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"pb-{next(self._ids)}", name=name,
            parent=parent.id if parent else None, workload=self.workload,
            op_id=op_id if op_id >= 0 or parent is None else parent.op_id,
            start=time.time(),
        )
        self._stack.append(sp)
        if self._on_enter:
            self._on_enter(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self._on_exit:
                self._on_exit(sp, parent)


def children_of(spans) -> dict[str, list[Span]]:
    kids: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return kids


def self_time(span: Span, children) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return span.wall - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


# ---------------------------------------------------------------------------
# CPU and RSS of this process tree, from /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                parent_of[int(entry)] = int(f[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, parent in parent_of.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return sorted(tree)


def tree_cpu_seconds(pids) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def own_cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` alone, without its children."""
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _TICK


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's summed RSS on a thread; ``peak`` holds
    the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pids = process_tree()
        refreshed = time.monotonic()
        while True:
            if time.monotonic() - refreshed > 2.0:
                pids, refreshed = process_tree(), time.monotonic()
            self.peak = max(self.peak, tree_rss_bytes(pids))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak
