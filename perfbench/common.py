"""Shared plumbing: memory sampling, spans, statistics and the
workload outcome.

Nothing here touches Spark; ``spark_probe.py`` holds what reads Spark's
status stores and progress events.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / _TICKS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class MemorySampler:
    """Samples the memory the engine holds: the RSS of this process, of
    the largest ``slots + 1`` processes of Spark's Python worker daemon
    below it (the daemon and one worker per task slot), and what
    ``jvm_bytes`` reports for the JVM once a session exists.

    Other processes are left out.  The JVM's own RSS follows how far G1
    has grown and touched the heap, which moved by a third between
    identical runs.  A child the JVM has just spawned shares the JVM's
    memory until it execs, so a sample that caught one counted the JVM
    twice.  Workers beyond one per slot are left out because Spark keeps
    idle workers for a minute, and a run that briefly needed more kept up
    to twice as many."""

    def __init__(self, slots: int, interval_s: float = 0.25) -> None:
        self.slots = slots
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.jvm_bytes = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        workers = sorted((_rss_bytes(p) for p in descendants(me) if _is_python_worker(p)), reverse=True)
        total = _rss_bytes(me) + sum(workers[: self.slots + 1])
        if self.jvm_bytes is not None:
            total += self.jvm_bytes()
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling (before the session stops) and returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        self.jvm_bytes = None
        return self.peak_bytes / 2**20


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory spans (name, start, end, parent), written out at exit.

    Disabled tracers record nothing: ``span`` still yields, so call sites
    are identical in traced and untraced runs."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack():
            parent = self._stack()[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent))
        return sid

    @contextmanager
    def span(self, name: str):
        """Times the block as a child of the innermost open span of this
        thread; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), math.nan)
        self._stack().append(sid)
        try:
            yield sid
        finally:
            self._stack().pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of each span's duration minus the part
        of it its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.parent >= 0:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    attempted: int
    failed: int
    metrics: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
