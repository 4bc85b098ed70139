"""Spans, Spark job-group counters and event-log totals for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
the engine's public functions.  Each span owns one Spark job group, so
the scheduler's ``statusTracker()`` and the event log attribute every
job, stage and task to the innermost span that submitted it.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: "int | None"
    exec_id: int
    group: "str | None" = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: "list[tuple[float, float]]", lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans: "list[Span]") -> dict[int, float]:
    """Span id → its duration minus the part of it covered by its
    children (children may overlap, as concurrent sinks do)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def summary(values: "list[float]") -> dict:
    """Median with its sample count, quartiles and range."""
    if not values:
        raise ValueError("summary of no samples")
    vs = sorted(values)
    q1, _, q3 = statistics.quantiles(vs, n=4, method="inclusive") if len(vs) > 1 else vs * 3
    return {"median": statistics.median(vs), "n": len(vs), "p25": q1,
            "p75": q3, "min": vs[0], "max": vs[-1]}


def describe(name: str, unit: str, values: "list[float]") -> str:
    s = summary(values)
    return (
        f"{name}: median {s['median']:.6g} {unit} (n={s['n']}, "
        f"p25 {s['p25']:.6g}, p75 {s['p75']:.6g}, min {s['min']:.6g}, "
        f"max {s['max']:.6g})"
    )


class Tracer:
    """In-memory span recorder.  Disabled, :meth:`span` is a no-op, so
    untraced runs pay one attribute check per call site."""

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self._sc = sc
        self.spans: list[Span] = []
        self.exec_id = 0
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, parent: "int | None" = None):
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, parent)

    @contextmanager
    def _span(self, name: str, parent: "int | None"):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        group = f"pb{self.exec_id}.{sid}"
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.exec_id, group)
                )

    def add(self, name: str, start: float, end: float, parent: "int | None") -> None:
        """Record a span measured by a callback rather than a ``with``."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    Span(next(self._ids), name, start, end, parent, self.exec_id)
                )

    def of_exec(self, exec_id: int) -> "list[Span]":
        return [s for s in self.spans if s.exec_id == exec_id]

    def dump(self, path: str, extra: dict) -> None:
        st = self_times(self.spans)
        rows = [s.__dict__ | {"self": st[s.id]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def scheduler_counts(sc, groups: "list[str]") -> dict[str, dict[str, int]]:
    """Job group → jobs, stages, tasks and failed tasks from the status
    tracker.  A stage shared by several jobs is counted once, under the
    first job that lists it; a stage that ran no task (skipped because
    its shuffle output was reused) is not counted."""
    st = sc.statusTracker()
    seen: set[int] = set()
    out = {}
    for g in groups:
        c = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for j in sorted(st.getJobIdsForGroup(g)):
            c["jobs"] += 1
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if s in seen or si is None:
                    continue
                seen.add(s)
                if si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                c["stages"] += 1
                c["tasks"] += si.numCompletedTasks
                c["tasks_failed"] += si.numFailedTasks
        out[g] = c
    return out


EVENT_TOTALS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "executor_run_s", "executor_cpu_s", "gc_s")


def event_log_totals(path: str) -> dict[str, dict[str, float]]:
    """Job group → task-metric totals from a Spark JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                g = stage_group.get(ev["Stage ID"], "")
                t = out.setdefault(g, dict.fromkeys(EVENT_TOTALS, 0.0))
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                t["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return out
