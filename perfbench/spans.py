"""Spans around the benchmark's calls into the engine, and Spark's own
event log for the execution counters of the jobs each span launched.

A span is (id, name, layer, parent, start, end). While a traced span is
open, every Spark job the call launches carries the span's id as its job
group, so after the session stops the event log attributes jobs, stages
and tasks to the innermost open span. Spans stay in memory until the
run writes them out.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# counters that do not depend on host load: a traced run checks that two
# passes of the same code reproduce them exactly
REPEAT_COUNTERS = (
    "jobs", "stages", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_records",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a shared
    no-op context, so untraced passes run the same code with nothing
    recorded and no job groups set."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._off = contextlib.nullcontext()

    def span(self, name: str, layer: str):
        if not self.enabled:
            return self._off
        return self._open(name, layer)

    @contextlib.contextmanager
    def _open(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.id if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"span-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its children cover (children of
        one span never overlap: calls are sequential)."""
        return sp.dur - sum(c.dur for c in self.children(sp))


def _empty_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_records": 0, "spill_bytes": 0,
        "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "input_bytes": 0, "output_bytes": 0,
    }


@dataclass
class _Stage:
    group: str | None
    duration_s: float = 0.0
    python: bool = False
    task_s: list = field(default_factory=list)


class EventLog:
    """Per-job-group execution counters parsed from one application's
    event log (JSON lines, uncompressed)."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.by_group: dict[str, dict] = {}
        self.stages: dict[int, _Stage] = {}
        with open(files[0]) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _counters(self, group: str | None) -> dict:
        return self.by_group.setdefault(group, _empty_counters())

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self._counters(group)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.stages[info["Stage ID"]] = _Stage(group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], _Stage(None))
            st.duration_s = (
                info.get("Completion Time", 0) - info.get("Submission Time", 0)
            ) / 1000.0
            st.python = any(
                "InPandas" in (r.get("Scope") or "") or "InPandas" in r.get("Name", "")
                for r in info.get("RDD Info", [])
            )
            self._counters(st.group)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], _Stage(None))
            c = self._counters(st.group)
            info = ev.get("Task Info", {})
            st.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            c["tasks"] += 1
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)

    def counters(self, spans: list[Span]) -> dict:
        """Counters summed over the job groups of ``spans``."""
        total = _empty_counters()
        for sp in spans:
            for k, v in self.by_group.get(f"span-{sp.id}", {}).items():
                total[k] += v
        return total

    def stages_of(self, spans: list[Span]) -> list[_Stage]:
        groups = {f"span-{sp.id}" for sp in spans}
        return [st for st in self.stages.values() if st.group in groups]

    def max_task_skew(self, spans: list[Span]) -> float:
        """Slowest ÷ median task duration in the longest stage."""
        stages = [st for st in self.stages_of(spans) if st.task_s]
        if not stages:
            return 0.0
        longest = max(stages, key=lambda st: st.duration_s)
        med = statistics.median(longest.task_s)
        return max(longest.task_s) / med if med > 0 else 1.0

    def python_stage_s(self, spans: list[Span]) -> float:
        return sum(st.duration_s for st in self.stages_of(spans) if st.python)


def repeat_mismatches(first: dict[str, dict], second: dict[str, dict]) -> list[dict]:
    """Load-independent counters that differ between two traced passes,
    compared call by call."""
    out = []
    for call in sorted(set(first) | set(second)):
        a, b = first.get(call, {}), second.get(call, {})
        for k in a.keys() | b.keys():
            if a.get(k) != b.get(k):
                out.append({"call": call, "counter": k, "first": a.get(k), "second": b.get(k)})
    return out
