"""Spans around the engine's public calls, folded with Spark's event log.

A ``Tracer`` records one span per wrapped call: name, wall-clock start and
end, and the span that was open when it started. Spans opened on a pool
thread (``compact`` rewrites its groups from a thread pool) take the span
open on the main thread as their parent, so their time nests under the
operator that started them.

Spark task metrics are attributed by time window, not by job group, because
pool threads do not inherit job groups: every ``SparkListenerTaskEnd`` is
folded into the innermost span open when its job was submitted.

Self time is computed per span name: the union of that name's intervals
minus the union of its children's intervals. The part of a round covered by
no span is reported as ``driver``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_COUNTERS = ("tasks", "task_cpu_s", "gc_s", "spill_bytes", "shuffle_bytes", "py_run_s")


class Span:
    __slots__ = ("name", "start", "end", "parent", "depth")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.depth = 0 if parent is None else parent.depth + 1


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(name, time.time(), parent)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------------- folding
    def innermost_at(self, t: float) -> Span | None:
        """Deepest span open at time ``t``; the latest-started breaks ties."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (
                best is None or (s.depth, s.start) > (best.depth, best.start)
            ):
                best = s
        return best

    def self_times(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Self seconds per span name, plus ``driver`` for the time inside
        ``windows`` (the traced rounds) that no span covers."""
        by_name: dict[str, list[tuple[float, float]]] = defaultdict(list)
        children: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            by_name[s.name].append((s.start, s.end))
            if s.parent is not None and s.parent.name != s.name:
                children[s.parent.name].append((s.start, s.end))
        win = _union(windows)
        out = {}
        for name, iv in by_name.items():
            own = _intersect(_union(iv), win)
            out[name] = _length(own) - _length(_intersect(own, _union(children[name])))
        roots = _union([(s.start, s.end) for s in self.spans if s.parent is None])
        out["driver"] = _length(win) - _length(_intersect(win, roots))
        return out

    def fold_event_log(
        self, log_dir: str, windows: list[tuple[float, float]]
    ) -> dict[str, dict[str, float]]:
        """Per span name, the Spark task counters of the jobs submitted
        while it was the innermost open span. Jobs submitted inside
        ``windows`` but outside every span land under ``driver``; jobs
        outside ``windows`` are left out."""
        job_span: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
        for event in _events(log_dir):
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                t = event["Submission Time"] / 1000.0
                if not any(a <= t <= b for a, b in windows):
                    continue
                s = self.innermost_at(t)
                job_span[event["Job ID"]] = s.name if s is not None else "driver"
                for stage in event.get("Stage IDs", []):
                    stage_job.setdefault(stage, event["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(event["Stage ID"])
                if job not in job_span:
                    continue
                m = event.get("Task Metrics") or {}
                t = totals[job_span[job]]
                t["tasks"] += 1
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in (event.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        t["py_run_s"] += float(acc.get("Update", 0)) / 1e3
        return dict(totals)


def _events(log_dir: str):
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _intersect(x: list[tuple[float, float]], y: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out, i, j = [], 0, 0
    while i < len(x) and j < len(y):
        a, b = max(x[i][0], y[j][0]), min(x[i][1], y[j][1])
        if a < b:
            out.append((a, b))
        if x[i][1] < y[j][1]:
            i += 1
        else:
            j += 1
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)
