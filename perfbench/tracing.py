"""Spans around the benchmark's calls into each layer, plus Spark's own
counts for the jobs those calls ran.

A span records name, layer, start, end, parent span and run id; spans stay
in memory and are written out with the run record. With tracing on, each
span also tags its Spark jobs with a job group of its own, so
``statusTracker`` yields the span's job, stage and task counts, and the
event log (written to the run's own directory) yields its shuffle bytes
and task times. With tracing off, ``span`` only times the call.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: list[int] = field(default_factory=list)
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag the jobs of later spans on SparkContext ``sc`` (None: stop)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        s = Span(name, layer, self.run_id, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self.spans.append(s)
        if self.enabled and self._sc is not None:
            s.group = f"{self.run_id}:{idx}:{name}"
            self._sc.setJobGroup(s.group, name)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                parent = self.spans[self._stack[-1]].group if self._stack else None
                self._sc.setLocalProperty("spark.jobGroup.id", parent)

    def timed(self, name: str, layer: str, fn):
        """Run ``fn`` inside a span; returns ``(result, seconds)``."""
        with self.span(name, layer) as s:
            out = fn()
        return out, s.seconds

    def collect_counts(self) -> None:
        """Fill job/stage/task counts of every tagged span from the status
        tracker. Called once at the end, after the listener bus drained."""
        if not self.enabled or self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            stages: set[int] = set()
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            s.stages = sorted(stages)
            s.tasks = 0
            for st in s.stages:
                info = tracker.getStageInfo(st)
                if info is not None:
                    s.tasks += info.numTasks

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self) -> list[dict]:
        return [dict(asdict(s), seconds=s.seconds) for s in self.spans]


@dataclass
class StageTasks:
    seconds: list[float] = field(default_factory=list)
    shuffle_write_bytes: int = 0


def read_event_log(log_dir: str) -> dict[str, dict[int, StageTasks]]:
    """Per job group, per stage: task durations and shuffle bytes written,
    from the (finished) event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    by_stage: dict[int, StageTasks] = {}
    # A plain event log is one file named after the application; a rolled
    # one is a directory of events_* files beside an empty appstatus_* marker.
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for st in ev.get("Stage IDs", []):
                            stage_group[st] = group
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    metrics = ev.get("Task Metrics") or {}
                    rec = by_stage.setdefault(ev["Stage ID"], StageTasks())
                    rec.seconds.append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    )
                    rec.shuffle_write_bytes += int(
                        (metrics.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
    out: dict[str, dict[int, StageTasks]] = {}
    for st, rec in by_stage.items():
        group = stage_group.get(st)
        if group is not None:
            out.setdefault(group, {})[st] = rec
    return out
