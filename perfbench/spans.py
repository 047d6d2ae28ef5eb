"""Spans around public operator calls, and the Spark event log folded
into them.

A span is (name, start, end, parent, run_id).  Opening a span also sets
the Spark job description `bench:<name>`, so every job the call runs is
tagged in the event log; `fold_event_log` then sums the task metrics of
those jobs per span name.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "bench:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    sc: object  # SparkContext
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(DESC_PREFIX + name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(DESC_PREFIX + parent if parent else None)
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def wall(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes an uncompressed event log to `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


@dataclass
class LayerTasks:
    """Task metrics of every job run under one span name."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # stage id -> task durations (s), for the skew of the dominant stage
    stage_tasks: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))

    def skew(self) -> float:
        """max / median task duration in the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        durs = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0


def _event_files(log_dir: str) -> list[str]:
    """The rolling event log's files (`eventlog_v2_<app>/events_<n>_<app>`),
    in roll order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def fold_event_log(log_dir: str) -> dict[str, LayerTasks]:
    """Span name -> LayerTasks, from the JobStart/TaskEnd events of jobs
    whose description starts with `bench:`.  Read after the session has
    stopped, so the log is complete."""
    stage_span: dict[int, str] = {}
    out: dict[str, LayerTasks] = defaultdict(LayerTasks)
    mb = 1 / (1 << 20)
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if not desc.startswith(DESC_PREFIX):
                        continue
                    name = desc[len(DESC_PREFIX):]
                    out[name].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if name is None or not m:
                        continue
                    lt = out[name]
                    info = ev["Task Info"]
                    lt.tasks += 1
                    lt.run_s += m.get("Executor Run Time", 0) / 1000
                    lt.gc_s += m.get("JVM GC Time", 0) / 1000
                    rd = m.get("Shuffle Read Metrics", {})
                    lt.shuffle_read_mb += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) * mb
                    lt.shuffle_write_mb += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) * mb
                    )
                    lt.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) * mb
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                    lt.stage_tasks[ev["Stage ID"]].append(dur)
    return out
