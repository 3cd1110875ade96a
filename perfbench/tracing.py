"""Spans recorded around calls into the program's layers, and the Spark event
log read back per job group.

A span has a name, start, end, parent and run id.  Spans live in memory
until ``Tracer.dump`` writes them out.  Each span also sets the Spark job
group for its duration, so every job a layer starts can be attributed to
the span from the event log after the run.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``sc`` is the SparkContext whose job group
    follows the innermost open span; None records spans only."""

    def __init__(self, sc=None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}/{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_id(span), span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered = _union_length([(c.start, c.end) for c in self.children(span)])
        return span.wall - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    python_s: float = 0.0
    job_intervals: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.cpu_s += other.cpu_s
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.python_bytes += other.python_bytes
        self.python_s += other.python_s
        self.job_intervals.extend(other.job_intervals)


# SQL metrics of the Python-evaluating operators (MapInPandas, ArrowEvalPython):
# bytes across the JVM/Python boundary, and time inside the Python workers
PYTHON_BYTE_ACCUMS = ("data sent to Python workers", "data returned from Python workers")
PYTHON_TIME_ACCUM = "time to run Python workers"


class EventLog:
    """Per-job-group totals read from one uncompressed Spark event log."""

    def __init__(self, path: Path):
        self.groups: dict[str, GroupStats] = {}
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    job_group[ev["Job ID"]] = gid
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    self._group(gid).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerJobEnd":
                    gid = job_group.get(ev["Job ID"])
                    if gid is not None:
                        self._group(gid).job_intervals.append(
                            (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    g = self._group(gid)
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    rd = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") in PYTHON_BYTE_ACCUMS:
                            g.python_bytes += int(acc.get("Update") or 0)
                        elif acc.get("Name") == PYTHON_TIME_ACCUM:
                            g.python_s += int(acc.get("Update") or 0) / 1000.0

    def _group(self, gid: str) -> GroupStats:
        return self.groups.setdefault(gid, GroupStats())

    def for_subtree(self, tracer: Tracer, span: Span) -> GroupStats:
        """Totals over the jobs started under ``span`` or its descendants."""
        out = GroupStats()
        for s in tracer.subtree(span):
            g = self.groups.get(tracer.group_id(s))
            if g is not None:
                out.add(g)
        return out


def driver_time(span: Span, stats: GroupStats) -> float:
    """Span time during which none of its Spark jobs was running."""
    inside = [(max(s, span.start), min(e, span.end)) for s, e in stats.job_intervals]
    return span.wall - _union_length([iv for iv in inside if iv[1] > iv[0]])


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
