"""Spans, Spark job-group tagging, the event-log reader and the summary
statistics the benchmark reports.

A span wraps one public call into the package. With tracing on, each span
also tags the Spark jobs its call starts with a job group of its own
(`spark.jobGroup.id`), so the event log's task metrics can be summed per
call. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_MIN = 10  # samples a reported tail percentile needs beyond it


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail_percentile(xs: list[float], q: float) -> float:
    """The q-quantile (0.5 <= q < 1) of `xs`, refused unless at least
    TAIL_MIN samples lie beyond it."""
    n = len(xs)
    if not 0.5 <= q < 1:
        raise ValueError(f"tail quantile {q} outside [0.5, 1)")
    rank = max(0, math.ceil(q * n) - 1)  # nearest rank, zero-based
    beyond = n - rank - 1
    if beyond < TAIL_MIN:
        raise ValueError(f"p{round(q * 100)} of {n} samples has {beyond} beyond it; needs {TAIL_MIN}")
    return sorted(xs)[rank]


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"op{self.span_id:06d}"


class Tracer:
    """Records spans; with `tagging`, gives each span's Spark jobs their
    own job group. Without it a span is only a timer."""

    def __init__(self, spark=None, tagging: bool = False) -> None:
        self.sc = spark.sparkContext if (spark is not None and tagging) else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent.span_id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, s: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.span_id)
        covered, upto = 0.0, s.start
        for a, b in kids:
            a = max(a, upto)
            if b > a:
                covered += b - a
                upto = b
        return s.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.span_id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "self": self.self_seconds(s), **s.attrs,
                }) + "\n")


# -- event log -----------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "input_records", "output_bytes", "output_records",
)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor run and CPU ms, shuffle
    read/write bytes, input bytes/records and output bytes/records, from an
    uncompressed Spark event log. Stages map to groups through the
    `spark.jobGroup.id` property of their submission."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                c = groups[g]
                c["tasks"] += 1
                c["run_ms"] += m.get("Executor Run Time", 0)
                c["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics", {})
                c["input_bytes"] += inp.get("Bytes Read", 0)
                c["input_records"] += inp.get("Records Read", 0)
                out = m.get("Output Metrics", {})
                c["output_bytes"] += out.get("Bytes Written", 0)
                c["output_records"] += out.get("Records Written", 0)
    return dict(groups)


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, non-rolling event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Counters:
    """Event-log counters looked up by span, summed over a span's subtree."""

    def __init__(self, tracer: Tracer, groups: dict[str, dict[str, float]]) -> None:
        self.tracer = tracer
        self.groups = groups

    def of(self, s: Span) -> dict[str, float]:
        total = dict(self.groups.get(s.group, dict.fromkeys(COUNTERS, 0)))
        for c in self.tracer.spans:
            if c.parent == s.span_id:
                for k, v in self.of(c).items():
                    total[k] += v
        return total

    def median_of(self, spans: list[Span], key: str) -> float:
        return median([self.of(s)[key] for s in spans]) if spans else 0.0
