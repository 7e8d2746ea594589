"""Measurement plumbing shared by the workloads: spans with Spark job groups,
event-log accounting, driver RSS peaks, percentiles and the CPU calibration
sample.  Nothing here imports the program under test."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import statistics
import time


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def calibration_s(rounds: int = 200_000) -> float:
    """Wall time of a fixed sha256 chain: a host-speed sample recorded beside
    each run as context.  It never normalises a metric."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def status_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{field} missing from /proc/self/status")


class PeakRss:
    """Peak growth of this (driver) process's resident set over the phases
    that run program code.  Each phase resets the kernel's high-water mark,
    so memory the benchmark itself holds between phases (oracle data) sits
    in the phase baseline and is not counted."""

    def __init__(self) -> None:
        self.peak_mb = 0.0

    @contextlib.contextmanager
    def phase(self):
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current RSS
        base = status_kb("VmRSS")
        try:
            yield
        finally:
            self.peak_mb = max(self.peak_mb, (status_kb("VmHWM") - base) / 1024)


class Tracer:
    """In-memory spans (name, start, end, parent, request id).  With
    ``group=True`` a span also sets the Spark job group ``s<span id>``, so the
    event log attributes each job to the innermost grouped span.  A disabled
    tracer records nothing and makes no Spark calls."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[list] = []
        self.request = None
        self._stack: list[int] = []
        self._groups: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.request]
        self.spans.append(rec)
        self._stack.append(sid)
        if group:
            self._groups.append(sid)
            self._apply_group()
        try:
            yield
        finally:
            if group:
                self._groups.pop()
                self._apply_group()
            self._stack.pop()
            rec[2] = time.perf_counter()

    def _apply_group(self) -> None:
        if self._groups:
            g = self._groups[-1]
            self.sc.setJobGroup(f"s{g}", self.spans[g][0])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def regroup(self, name: str) -> None:
        """Send the innermost grouped span's later jobs to a new zero-length
        span ``name`` (e.g. PageRank set-up → steady supersteps)."""
        now = time.perf_counter()
        sid = len(self.spans)
        self.spans.append([name, now, now, self._stack[-1], self.request])
        self._groups[-1] = sid
        self._apply_group()

    def wrap(self, fn, name: str):
        """Wrap a callable so each call records a span (no job group).  Kept
        free of context managers: it runs several times per served request."""

        def traced(*args, **kwargs):
            rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.request]
            self._stack.append(len(self.spans))
            self.spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                rec[2] = time.perf_counter()

        return traced

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children cover
        (children run sequentially: there is one client thread)."""
        own = [s[2] - s[1] for s in self.spans]
        out = list(own)
        for s, d in zip(self.spans, own):
            if s[3] is not None:
                out[s[3]] -= d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, task busy seconds, shuffle bytes written.
    Call after the SparkContext has stopped (the log is then complete)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {"jobs": 0, "task_s": 0.0, "shuffle_write_b": 0})

    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                acc(group)["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                a = acc(stage_group.get(ev.get("Stage ID"), ""))
                a["task_s"] += m.get("Executor Run Time", 0) / 1000
                a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return out
