"""Tests that the traced decompositions run what the timed operations run.

    python3 -m pytest perfbench/tests -q

Starts a small local Spark session.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


def test_traced_build_runs_the_plan_bloom_build_picks(tmp_path, monkeypatch):
    pytest.importorskip("pyspark")
    import fastbloom_spark.plans as plans
    import groups
    import harness
    import spans

    for key, value in (("code_rows", 2000), ("orders", 500),
                       ("events", 1000)):
        monkeypatch.setitem(groups.SIZES, key, value)
    picked = []
    real = plans.plan_bloom_build

    def recording(*args, **kwargs):
        picked.append(real(*args, **kwargs))
        return picked[-1]

    monkeypatch.setattr(plans, "plan_bloom_build", recording)
    spark = harness.make_session(ROOT, str(tmp_path), event_log_dir=None)
    grp = groups.Ingest(spark, 3, str(tmp_path))
    try:
        grp.setup()
        grp.references()
        grp.build()                                   # as timed
        timed = picked[-1]
        grp.trace(spans.SpanRecorder(spark.sparkContext))["build"]()
        traced = picked[-1]
        reported = groups._planner_metrics(groups.build_plan(
            grp.code.select("content"), grp.cfg))
    finally:
        grp.teardown()
        harness.stop_session(spark)
    assert len(picked) == 3
    fields = ("build_partitions", "merge_strategy", "scan_strategy",
              "partial_state_bytes")
    assert [getattr(traced, f) for f in fields] == \
        [getattr(timed, f) for f in fields]
    # the traced build collected one partial per planned build partition
    assert grp.partial_stats == [(timed.build_partitions,
                                  grp.partial_stats[0][1])]
    assert reported["planner.build_partitions"] == timed.build_partitions
    assert reported["planner.partial_state_bytes"] == \
        timed.partial_state_bytes
