"""Span recording, self-time arithmetic and Spark event-log attribution.

A span is one timed call made by the benchmark into a layer of
``fastbloom_spark``. Spans nest: each operation has a root span, and the
child spans around the public calls it decomposes into share the root's
operation id. While a span is open, every Spark job the driver submits
carries the span's id as its job group, so the event log attributes
stages, tasks and SQL metrics to spans.

Everything here is plain Python over recorded numbers, so it is tested
without a Spark session (``perfbench/tests/test_perfbench_spans.py``).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: str
    name: str
    layer: str
    op_id: str
    parent: str | None
    start: float            # time.perf_counter() seconds
    end: float = 0.0
    wall_start_ms: float = 0.0   # epoch ms, comparable with the event log
    wall_end_ms: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Keeps spans in memory; ``dump`` writes them out at the end.

    ``sc`` is a SparkContext or None. When given, an open span's id is
    the driver's job group, restored to the parent's on exit."""

    def __init__(self, sc=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = sc
        self._ops = 0

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._ops += 1
            op_id = f"op{self._ops}"
        else:
            op_id = parent.op_id
        s = Span(id=f"bench-span-{len(self.spans)}", name=name, layer=layer,
                 op_id=op_id, parent=parent.id if parent else None,
                 start=0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.wall_start_ms = time.time() * 1000.0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end_ms = time.time() * 1000.0
            self._stack.pop()
            self._set_group(parent)

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(rec: SpanRecorder) -> dict[str, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    kids: dict[str, list[Span]] = {}
    for s in rec.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: s.duration - covered(
        [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in rec.spans}


def child_coverage(rec: SpanRecorder, root: Span) -> float:
    """Share of a root span's time that its direct children cover."""
    kids = [(c.start, c.end) for c in rec.children(root)]
    return covered(kids, root.start, root.end) / max(root.duration, 1e-12)


def layer_self_times(rec: SpanRecorder) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    out: dict[str, float] = {}
    st = self_times(rec)
    for s in rec.spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# ---------------------------------------------------------------- event log

@dataclass
class TaskRec:
    stage: int
    launch_ms: float
    finish_ms: float
    run_ms: float
    cpu_ns: float
    gc_ms: float
    result_bytes: float
    shuffle_write: float
    shuffle_read: float
    py_sent: float
    py_received: float


@dataclass
class EventLog:
    #: job id -> (group id or None, submit ms, completion ms)
    jobs: dict[int, list] = field(default_factory=dict)
    #: stage id -> group id or None
    stage_group: dict[int, str | None] = field(default_factory=dict)
    tasks: list[TaskRec] = field(default_factory=list)


def _num(x) -> float:
    try:
        return float(x)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> EventLog:
    """Parse Spark event-log JSON lines into jobs, stage groups and
    per-task metrics. Python bytes come from the SQL metrics Spark
    reports as task accumulables."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            log.jobs[ev["Job ID"]] = [group, _num(ev.get("Submission Time")),
                                      _num(ev.get("Submission Time"))]
            for sid in ev.get("Stage IDs", []):
                log.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]][2] = _num(ev.get("Completion Time"))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = ev["Stage Info"]["Stage ID"]
            if group is not None:
                log.stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sent = received = 0.0
            for acc in info.get("Accumulables", []):
                name = str(acc.get("Name", "")).lower()
                if "sent to python" in name:
                    sent += _num(acc.get("Update"))
                elif "returned from python" in name:
                    received += _num(acc.get("Update"))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(TaskRec(
                stage=ev.get("Stage ID", -1),
                launch_ms=_num(info.get("Launch Time")),
                finish_ms=_num(info.get("Finish Time")),
                run_ms=_num(m.get("Executor Run Time")),
                cpu_ns=_num(m.get("Executor CPU Time")),
                gc_ms=_num(m.get("JVM GC Time")),
                result_bytes=_num(m.get("Result Size")),
                shuffle_write=_num(sw.get("Shuffle Bytes Written")),
                shuffle_read=_num(sr.get("Remote Bytes Read"))
                + _num(sr.get("Local Bytes Read")),
                py_sent=sent, py_received=received))
    return log


def read_event_logs(directory: Path) -> EventLog:
    """Parse every (uncompressed, non-rolling) event log under
    ``directory``."""
    lines: list[str] = []
    for p in sorted(Path(directory).rglob("*")):
        if p.is_file():
            lines.extend(p.read_text().splitlines())
    return parse_event_log(lines)


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "result_bytes", "python_bytes_sent", "python_bytes_received")


def spark_by_group(log: EventLog) -> dict[str | None, dict[str, float]]:
    """Job group -> summed Spark metrics of the jobs, stages and tasks it
    owns (``None`` collects jobs run outside any span)."""
    out: dict[str | None, dict[str, float]] = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(SPARK_KEYS, 0.0))

    for group, _, _ in log.jobs.values():
        acc(group)["jobs"] += 1
    ran = {t.stage for t in log.tasks}
    for sid, group in log.stage_group.items():
        if sid in ran:
            acc(group)["stages"] += 1
    for t in log.tasks:
        a = acc(log.stage_group.get(t.stage))
        a["tasks"] += 1
        a["executor_run_s"] += t.run_ms / 1e3
        a["executor_cpu_s"] += t.cpu_ns / 1e9
        a["gc_s"] += t.gc_ms / 1e3
        a["shuffle_write_bytes"] += t.shuffle_write
        a["shuffle_read_bytes"] += t.shuffle_read
        a["result_bytes"] += t.result_bytes
        a["python_bytes_sent"] += t.py_sent
        a["python_bytes_received"] += t.py_received
    return out


def widest_stage_skew(log: EventLog, groups: set[str]) -> float:
    """Max over median task time in the widest stage owned by ``groups``
    (1.0 when there is no such stage)."""
    by_stage: dict[int, list[float]] = {}
    for t in log.tasks:
        if log.stage_group.get(t.stage) in groups:
            by_stage.setdefault(t.stage, []).append(t.finish_ms - t.launch_ms)
    if not by_stage:
        return 1.0
    durs = max(by_stage.values(), key=len)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def driver_self_s(log: EventLog, root: Span, groups: set[str]) -> float:
    """Root-span time not covered by any Spark job of ``groups``: py4j,
    planning and driver-side numpy."""
    ivs = [(sub, end) for g, sub, end in log.jobs.values() if g in groups]
    busy = covered(ivs, root.wall_start_ms, root.wall_end_ms)
    return max(root.wall_end_ms - root.wall_start_ms - busy, 0.0) / 1e3
