"""Spans recorded around the benchmark's calls into each layer, and
Spark task metrics attributed to those spans through job groups.

A span is ``{run, id, name, parent, start, end}``. While a span is open,
every Spark job started from this thread carries the job group
``<run>:<id>``, so the uncompressed event log can be folded back onto
spans after the session stops. Spans stay in memory until the
benchmark writes them at exit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 2**20


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def ids(self, name: str) -> list[int]:
        return [s["id"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@dataclass
class StageAgg:
    task_run_s: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0

    def summary(self) -> dict:
        """Task count and task run time (max, median, sum) in seconds."""
        t = self.task_run_s
        return {"tasks": len(t), "max_s": max(t), "median_s": statistics.median(t), "sum_s": sum(t)}


@dataclass
class GroupAgg:
    jobs: int = 0
    stages: dict[int, StageAgg] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return sum(len(s.task_run_s) for s in self.stages.values())

    @property
    def run_s(self) -> float:
        return sum(sum(s.task_run_s) for s in self.stages.values())

    @property
    def cpu_s(self) -> float:
        return sum(s.cpu_s for s in self.stages.values())

    @property
    def gc_s(self) -> float:
        return sum(s.gc_s for s in self.stages.values())

    @property
    def shuffle_write_mb(self) -> float:
        return sum(s.shuffle_write_b for s in self.stages.values()) / MB

    @property
    def spill_mb(self) -> float:
        return sum(s.spill_b for s in self.stages.values()) / MB

    def slowest_stage(self) -> tuple[float, float]:
        """(longest task s, longest / median task in that task's stage)."""
        best = (0.0, 1.0)
        for s in self.stages.values():
            if not s.task_run_s:
                continue
            top = max(s.task_run_s)
            if top > best[0]:
                med = statistics.median(s.task_run_s)
                best = (top, top / med if med > 0 else float(len(s.task_run_s)))
        return best


def read_event_log(log_dir: str) -> dict[str, GroupAgg]:
    """Fold the event log's task metrics onto job groups."""
    groups: dict[str, GroupAgg] = defaultdict(GroupAgg)
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
             if not n.startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups[gid].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        gid = stage_group.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if gid is None or not m:
            continue
        st = groups[gid].stages.setdefault(ev["Stage ID"], StageAgg())
        st.task_run_s.append(m["Executor Run Time"] / 1e3)
        st.cpu_s += m["Executor CPU Time"] / 1e9
        st.gc_s += m["JVM GC Time"] / 1e3
        st.shuffle_write_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        st.spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return groups


def merge(aggs: list[GroupAgg]) -> GroupAgg:
    out = GroupAgg()
    for a in aggs:
        out.jobs += a.jobs
        out.stages.update(a.stages)
    return out
