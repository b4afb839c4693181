"""Measurement primitives of the benchmark: summary statistics, spans,
the /proc process-tree CPU/RSS reader and the Spark event-log rollup.

Nothing here imports Spark or the package, so the tests in
``test_measure.py`` exercise it without a JVM."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections.abc import Iterable
from dataclasses import dataclass, field

# ---------------------------------------------------------------- stats


def median(values: Iterable[float], default: float | None = None) -> float:
    """Median of ``values``; ``default`` when there are none, or
    ValueError if no default is given."""
    values = list(values)
    if not values:
        if default is None:
            raise ValueError("median of no samples")
        return default
    return statistics.median(values)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that still has at least ``beyond``
    of ``n`` samples above it, or None when ``n`` is too small."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 · n))."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return p, percentile(values, p)


def failed_share(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    id: int = 0


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled tracers hand out no-op context managers, so the untraced
    run pays one attribute test per call."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str | None = None):
        return _SpanCtx(self, name, op) if self.enabled else _NOOP

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        if self.op is None and parent is not None:
            self.op = t.spans[parent].op
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, time.perf_counter(), math.nan,
                            parent, self.op, self.idx))
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx].end = time.perf_counter()
        t._stack.pop()
        return False


class _Noop:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover
    (children may overlap each other; overlap is counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own CPU s, reaped children's CPU s, RSS bytes) of a pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the command name, from stat field 3 (state) on:
    # ppid is field 4, utime..cstime 14-17, rss 24
    fields = raw[raw.rindex(")") + 2:].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """CPU and RSS of this process and every descendant, split into
    the driver interpreter, the JVM and the Python workers (everything
    below the JVM). A worker that exits is still counted once its
    parent reaps it, through the parent's reaped-children CPU. The
    driver's own reaped children (the launcher scripts) are not."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._role: dict[int, str] = {}

    def _snapshot(self) -> dict[int, tuple[str, float, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        if self.root not in stats:
            return {}
        _, own, _, rss = stats[self.root]
        out = {self.root: ("driver_py", own, rss)}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, own, reaped, rss) in stats.items():
                if pid in out or ppid not in out:
                    continue
                role = self._role.get(pid)
                if role is None:
                    if out[ppid][0] != "driver_py":
                        role = "py_worker"
                    elif "java" in _cmdline(pid):
                        role = "jvm"
                    else:
                        role = "driver_py"
                    self._role[pid] = role
                out[pid] = (role, own + reaped, rss)
                grew = True
        return out

    def cpu(self) -> dict[str, float]:
        acc = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
        for role, cpu, _ in self._snapshot().values():
            acc[role] += cpu
        return acc

    def rss(self) -> int:
        return sum(r for _, _, r in self._snapshot().values())


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: max(0.0, after[k] - before.get(k, 0.0)) for k in after}


class PeakRss:
    """Samples the process tree's summed RSS in a background thread
    while the context is open; ``peak`` is the largest sample."""

    def __init__(self, tree: ProcTree, interval: float = 0.05):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss())
        return False


# ---------------------------------------------------------------- event log


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


@dataclass
class JobRollup:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    straggler_ratio: float = 0.0
    input_scans: int = 0


def _scan_count(plan: dict, needle: str) -> int:
    own = 0
    if plan.get("nodeName", "").startswith("Scan") and needle in json.dumps(
        plan.get("metadata", {})
    ):
        own = 1
    return own + sum(_scan_count(c, needle) for c in plan.get("children", []))


def rollup(events: list[dict], windows: list[tuple[float, float]],
           scan_needle: str | None = None) -> list[JobRollup]:
    """One JobRollup per [start, end] window (epoch seconds).

    A job belongs to the window its submission time falls in, and a
    task to its stage's job; a SQL execution's initial plan counts its
    scans of ``scan_needle`` (the input table path) in the window it
    started in. The straggler ratio is, over the window's stages with
    at least two tasks, the largest longest-task ÷ median-task."""
    out = [JobRollup() for _ in windows]

    def window_of(ms: float) -> int | None:
        t = ms / 1000.0
        for i, (lo, hi) in enumerate(windows):
            if lo <= t <= hi:
                return i
        return None

    stage_win: dict[int, int] = {}
    durations: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            w = window_of(ev["Submission Time"])
            if w is None:
                continue
            out[w].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_win.setdefault(sid, w)
        elif kind == "SparkListenerTaskEnd":
            w = stage_win.get(ev["Stage ID"])
            if w is None:
                continue
            r = out[w]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            r.tasks += 1
            durations.setdefault(ev["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
            r.task_run_s += m.get("Executor Run Time", 0) / 1e3
            r.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            r.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            r.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / 1e6
            r.spill_mb += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / 1e6
        elif scan_needle and kind.endswith("SparkListenerSQLExecutionStart"):
            w = window_of(ev["time"])
            if w is not None:
                out[w].input_scans += _scan_count(ev["sparkPlanInfo"], scan_needle)
    for sid, ds in durations.items():
        r = out[stage_win[sid]]
        r.stages += 1
        if len(ds) >= 2 and statistics.median(ds) > 0:
            r.straggler_ratio = max(r.straggler_ratio,
                                    max(ds) / statistics.median(ds))
    return out
