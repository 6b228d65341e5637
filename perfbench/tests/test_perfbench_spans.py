"""Tests of the benchmark's own code: the span recorder, self-time
arithmetic, the event-log parser's job-group attribution, and the check
that child spans cover an operation's time.

    python3 -m pytest perfbench/tests -q

The last test starts a small local Spark session with the event log on.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import spans  # noqa: E402


class FakeClock:
    """Stands in for ``time.perf_counter``/``time.time`` so span times
    are exact."""

    def __init__(self) -> None:
        self.t = 100.0

    def perf_counter(self) -> float:
        return self.t

    def time(self) -> float:
        return self.t


class FakeSC:
    """Records the job-group calls a SparkContext would receive."""

    def __init__(self) -> None:
        self.group = None
        self.history = []

    def setJobGroup(self, gid, desc):
        self.group = gid
        self.history.append(gid)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value
            self.history.append(value)


@pytest.fixture
def clock(monkeypatch):
    c = FakeClock()
    monkeypatch.setattr(spans.time, "perf_counter", c.perf_counter)
    monkeypatch.setattr(spans.time, "time", c.time)
    return c


def record_op(rec, clock):
    """root [0, 10] with one child a [1, 4], which holds a1 [2, 3] and
    b [3.5, 4]; the root's other 7 s are its own."""
    with rec.span("root", "op") as root:
        clock.t += 1
        with rec.span("a", "L1") as a:
            clock.t += 1
            with rec.span("a1", "L2"):
                clock.t += 1
            clock.t += 0.5
            with rec.span("b", "L3") as b:
                clock.t += 0.5
        clock.t += 6
    return root, a, b


def test_recorder_nesting_and_ids(clock):
    rec = spans.SpanRecorder()
    with rec.span("op1", "op"):
        with rec.span("child", "L1"):
            clock.t += 1
    with rec.span("op2", "op"):
        clock.t += 1
    s = rec.spans
    assert [x.name for x in s] == ["op1", "child", "op2"]
    assert s[1].parent == s[0].id and s[0].parent is None
    assert s[0].op_id == s[1].op_id != s[2].op_id
    assert [r.name for r in rec.roots()] == ["op1", "op2"]
    assert s[1].duration == pytest.approx(1.0)


def test_recorder_sets_and_restores_job_group(clock):
    sc = FakeSC()
    rec = spans.SpanRecorder(sc)
    with rec.span("root", "op") as root:
        assert sc.group == root.id
        with rec.span("child", "L1") as child:
            assert sc.group == child.id
        assert sc.group == root.id
    assert sc.group is None


def test_recorder_restores_group_on_error(clock):
    sc = FakeSC()
    rec = spans.SpanRecorder(sc)
    with pytest.raises(ValueError):
        with rec.span("root", "op"):
            with rec.span("child", "L1"):
                raise ValueError("boom")
    assert sc.group is None
    assert all(s.end >= s.start for s in rec.spans)


def test_covered_union_and_clipping():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_times_add_up_to_the_root(clock):
    rec = spans.SpanRecorder()
    root, a, b = record_op(rec, clock)
    st = spans.self_times(rec)
    assert root.duration == pytest.approx(10.0)
    # a: 3 s long, its children a1 (1 s) and b (0.5 s) cover 1.5 s
    assert st[a.id] == pytest.approx(1.5)
    assert st[root.id] == pytest.approx(10.0 - 3.0)
    # self times over the whole tree sum to the root's duration
    assert sum(st.values()) == pytest.approx(root.duration)
    layers = spans.layer_self_times(rec)
    assert layers == pytest.approx({"op": 7.0, "L1": 1.5, "L2": 1.0,
                                    "L3": 0.5})


def test_child_coverage(clock):
    rec = spans.SpanRecorder()
    root, _, _ = record_op(rec, clock)
    assert spans.child_coverage(rec, root) == pytest.approx(0.3)
    with rec.span("leaf", "op") as leaf:
        clock.t += 1
    assert spans.child_coverage(rec, leaf) == 0.0


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def synthetic_log():
    """Two jobs in group g1 (one stage skipped in the second job), one in
    g2, one outside any span."""
    return [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
            "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g1"}}),
        _ev("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 0},
            "Properties": {"spark.jobGroup.id": "g1"}}),
        _ev("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1100,
                          "Accumulables": [
                              {"Name": "data sent to Python workers",
                               "Update": 500},
                              {"Name": "data returned from Python workers",
                               "Update": "40"}]},
            "Task Metrics": {"Executor Run Time": 90,
                             "Executor CPU Time": 80_000_000,
                             "JVM GC Time": 5, "Result Size": 10,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": 64}}}),
        _ev("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1400},
            "Task Metrics": {"Executor Run Time": 390}}),
        _ev("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1100},
            "Task Metrics": {"Executor Run Time": 95}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1600,
            "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "g1"}}),
        _ev("SparkListenerTaskEnd", **{
            "Stage ID": 2,
            "Task Info": {"Launch Time": 1600, "Finish Time": 1700},
            "Task Metrics": {"Shuffle Read Metrics": {
                "Remote Bytes Read": 10, "Local Bytes Read": 54}}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1800}),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 2000,
            "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "g2"}}),
        _ev("SparkListenerTaskEnd", **{
            "Stage ID": 3,
            "Task Info": {"Launch Time": 2000, "Finish Time": 2050},
            "Task Metrics": {}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 2100}),
        _ev("SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 3000,
            "Stage IDs": [4], "Properties": {}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 3100}),
        "",
        _ev("SparkListenerApplicationEnd", Timestamp=4000),
    ]


def test_event_log_job_group_attribution():
    log = spans.parse_event_log(synthetic_log())
    assert {j: g for j, (g, _, _) in log.jobs.items()} == {
        0: "g1", 1: "g1", 2: "g2", 3: None}
    by = spans.spark_by_group(log)
    g1 = by["g1"]
    assert g1["jobs"] == 2
    assert g1["stages"] == 2          # stage 1 never ran a task
    assert g1["tasks"] == 4
    assert g1["executor_run_s"] == pytest.approx(0.575)
    assert g1["executor_cpu_s"] == pytest.approx(0.08)
    assert g1["shuffle_write_bytes"] == 64
    assert g1["shuffle_read_bytes"] == 64
    assert g1["python_bytes_sent"] == 500
    assert g1["python_bytes_received"] == 40
    assert by["g2"]["jobs"] == 1 and by["g2"]["tasks"] == 1
    assert by[None]["jobs"] == 1 and by[None]["tasks"] == 0
    # widest stage of g1 is stage 0: task times 100, 400, 100
    assert spans.widest_stage_skew(log, {"g1"}) == pytest.approx(4.0)
    assert spans.widest_stage_skew(log, {"nope"}) == 1.0


def test_driver_self_time_is_span_time_outside_jobs():
    log = spans.parse_event_log(synthetic_log())
    root = spans.Span(id="r", name="r", layer="op", op_id="op1",
                      parent=None, start=0.0, end=1.5,
                      wall_start_ms=900.0, wall_end_ms=2400.0)
    # jobs of g1 cover 1000-1500 and 1600-1800: 0.7 s of the 1.5 s span
    assert spans.driver_self_s(log, root, {"g1"}) == pytest.approx(0.8)
    assert spans.driver_self_s(log, root, {"g1", "g2"}) == \
        pytest.approx(0.7)


def test_attribution_on_a_local_spark_session(tmp_path):
    """A real event log: jobs run inside spans carry the span's group."""
    pytest.importorskip("pyspark")
    import harness

    events = tmp_path / "events"
    events.mkdir()
    spark = harness.make_session(ROOT, str(tmp_path), event_log_dir=str(
        events))
    try:
        rec = spans.SpanRecorder(spark.sparkContext)
        with rec.span("op", "op") as root:
            with rec.span("count", "L1") as a:
                spark.range(1000, numPartitions=2).count()
            with rec.span("sum", "L2") as b:
                spark.range(1000, numPartitions=3).selectExpr(
                    "sum(id)").collect()
        spark.range(10).count()
    finally:
        harness.stop_session(spark)
    log = spans.read_event_logs(events)
    by = spans.spark_by_group(log)
    assert by[a.id]["jobs"] >= 1 and by[a.id]["tasks"] >= 2
    assert by[b.id]["jobs"] >= 1 and by[b.id]["tasks"] >= 3
    assert root.id not in by          # the root ran no job of its own
    assert by[None]["jobs"] >= 1
    assert spans.child_coverage(rec, root) > 0.9
    busy = root.duration - spans.driver_self_s(log, root, {a.id, b.id})
    assert 0 < busy <= root.duration
