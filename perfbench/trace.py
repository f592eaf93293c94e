"""Spans recorded around the benchmark's own calls into the library, and the
Spark event log summed per span.

A span is (name, start, end, parent).  Spans live in memory and are written
out once, when the run ends.  Every span also tags the Spark jobs it
launches with ``sparkContext.setJobGroup``, so the event log (enabled only
in a traced run) can be summed per span afterwards.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

# group ids carry the job index so repeated traced jobs stay apart
GROUP_SEP = "#"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: int


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing and sets
    no job groups, so the untraced timing path runs the same calls bare."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.job))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"{name}{GROUP_SEP}{self.job}", name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]].name
                    self.sc.setJobGroup(f"{outer}{GROUP_SEP}{self.job}", outer)
                else:
                    self.sc._jsc.clearJobGroup()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "job": s.job,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end}) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        out.append((s.end - s.start) - _covered(kids.get(i, []), s.start,
                                                s.end))
    return out


def child_coverage(spans: list[Span], idx: int) -> float:
    """Share of span ``idx`` covered by its direct children."""
    s = spans[idx]
    iv = [(c.start, c.end) for c in spans if c.parent == idx]
    dur = s.end - s.start
    return _covered(iv, s.start, s.end) / dur if dur > 0 else 1.0


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
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


# --------------------------------------------------------------------------
# event log → per job group counters
# --------------------------------------------------------------------------

_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}
SPARK_FIELDS = ("executor_run_s", "executor_cpu_s", "shuffle_write_mb",
                "spill_mb", "tasks", "max_task_s")


def spark_counters(lines) -> dict[str, dict[str, float]]:
    """Sum an uncompressed, non-rolling Spark event log per job group.

    Stage-level sums come from each completed stage attempt's accumulables;
    ``tasks`` and ``max_task_s`` come from the task-end events.  A stage is
    charged to the group of the first job that lists it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def row(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(SPARK_FIELDS, 0.0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            r = row(group)
            for acc in info.get("Accumulables", []):
                key = _STAGE_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    r[key[0]] += float(acc["Value"]) * key[1]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            r = row(group)
            info = ev["Task Info"]
            r["tasks"] += 1
            r["max_task_s"] = max(
                r["max_task_s"],
                (info["Finish Time"] - info["Launch Time"]) * 1e-3)
    return out


def split_group(group: str) -> tuple[str, int]:
    name, _, job = group.rpartition(GROUP_SEP)
    return name, int(job)
