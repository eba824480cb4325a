"""Measurement helpers: percentiles, spans with self time, and /proc
readings of the process tree (CPU, RSS) and of host steal."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest of TAIL_PERCENTILES with at least ``min_beyond`` samples
    above it, as (q, value); None when not even the median has that many."""
    for q in TAIL_PERCENTILES:
        if not values:
            break
        v = percentile(values, q)
        if sum(1 for x in values if x > v) >= min_beyond:
            return q, v
    return None


class Tracer:
    """In-memory spans (name, start, end, parent, op) and counts, written
    out once at exit. Disabled, ``span`` and ``count`` do nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float, op: int | None = None) -> None:
        if self.enabled:
            self.counts.append({"name": name, "value": value, "op": op})

    def self_times(self) -> list[float]:
        """Per span: its duration minus the union of its children's
        intervals, clipped to the span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s["end"] - s["start"] - covered)
        return out

    def self_time_by_name(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s, t in zip(self.spans, self.self_times()):
            out.setdefault(s["name"], []).append(t)
        return out

    def dump(self, path: str) -> None:
        """Spans, their self times, the total self time per span name, and
        the counts, as one JSON object."""
        totals = {k: sum(v) for k, v in self.self_time_by_name().items()}
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(),
                       "self_s_by_name": totals, "counts": self.counts}, f)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while the tree was walked
        return None
    return raw.rsplit(")", 1)[1].split()


def running(pids: list[int]) -> list[int]:
    """The pids that still run (zombies have ended)."""
    out = []
    for p in pids:
        f = _stat_fields(p)
        if f is not None and f[0] != "Z":
            out.append(p)
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """User+sys CPU of the tree, including reaped children."""
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class StealMeter:
    """Host steal share per interval between ``tick`` calls."""

    def __init__(self):
        self.first = self.last = host_cpu_ticks()
        self.peak = 0.0

    def tick(self) -> None:
        now = host_cpu_ticks()
        d_total = now[1] - self.last[1]
        if d_total > 0:
            self.peak = max(self.peak, (now[0] - self.last[0]) / d_total)
        self.last = now

    def mean(self) -> float:
        d_total = self.last[1] - self.first[1]
        return (self.last[0] - self.first[0]) / d_total if d_total > 0 else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )
