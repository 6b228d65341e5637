"""Tests of the benchmark's harness, inputs and BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def test_benchmark_json_matches_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {n: (u, b) for n, u, b in run.END_TO_END}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == {n: (u, b) for n, u, b in run.PER_LAYER}


def test_every_listed_kind_feeds_one_gated_throughput():
    ingest = {"build", "agg_lang", "hll", "cms", "tdigest"}
    probe = {"probe", "sql_register", "sql_publish", "semijoin", "lookup"}
    assert set().union(*(a for a, _ in run.SLOTS.values())) == ingest
    assert set().union(*(b for _, b in run.SLOTS.values())) == probe
    assert all(a and b for a, b in run.SLOTS.values())
    assert sum(len(a) + len(b) for a, b in run.SLOTS.values()) == \
        len(ingest) + len(probe)


def test_summary_and_percentile():
    s = harness.summary([4.0, 1.0, 3.0, 2.0])
    assert s["n"] == 4 and s["p50"] == 2.5
    assert s["q1"] <= s["p50"] <= s["q3"]
    assert harness.summary([7.0])["p50"] == 7.0
    vals = list(range(1, 101))
    assert harness.percentile(vals, 90) == 90
    assert harness.percentile(vals, 50) == 50


def test_closed_loop_counts_failures_and_never_retries():
    calls = {"ok": 0, "bad": 0}

    def ok():
        calls["ok"] += 1

    def bad():
        calls["bad"] += 1
        harness.check(False, "wrong answer")

    res = harness.closed_loop([harness.Op("ok", "m", 1, ok),
                               harness.Op("bad", "m", 1, bad)],
                              seconds=0.0, min_cycles=3)
    assert res.attempted == 6 and res.failed == 3
    assert calls == {"ok": 3, "bad": 3}
    assert len(res.latencies["ok"]) == 3 and res.latencies["bad"] == []
    assert "wrong answer" in res.errors[0]


def test_host_speed_job_is_left_out_of_the_tree():
    host = harness.HostSpeed()
    try:
        c0 = harness.tree_cpu_s(os.getpid())
        took = sum(host.sample() for _ in range(3))
        c1 = harness.tree_cpu_s(os.getpid())
        scale = host.scale()
    finally:
        host.close()
    assert host.proc.returncode == 0
    assert took > 0
    # only the driver's side of the pipe is in the tree, not the job
    assert c1 - c0 < took / 2
    assert scale == harness.HOST_SPEED_REF_S / statistics.median(
        host.samples)


def test_tree_cpu_s_leaves_out_its_own_cost():
    before = harness.tree_cpu_s(os.getpid())
    for _ in range(50):
        harness.tree_cpu_s(os.getpid())
    assert harness.tree_cpu_s(os.getpid()) - before < 0.005


def test_worker_site_keeps_an_unchanged_zip_directory(tmp_path):
    import importlib.util
    import zipfile
    import zipimport

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("one.py", "X = 1\n")
    saved = zipimport.zipimporter.invalidate_caches
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_worker_site",
            os.path.join(BENCH, "worker_site", "sitecustomize.py"))
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        zi = zipimport.zipimporter(str(archive))
        zi.invalidate_caches()
        files = zi._files
        zi.invalidate_caches()
        assert zi._files is files            # not re-read
        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("two.py", "Y = 2\n")
        mtime = os.stat(archive).st_mtime_ns + 10**9
        os.utime(archive, ns=(mtime, mtime))
        zi.invalidate_caches()
        assert "two.py" in zi._files         # a changed one is
    finally:
        zipimport.zipimporter.invalidate_caches = saved


def test_documents_come_from_the_seed():
    a = inputs.base_documents(50, seed=5)
    assert a.equals(inputs.base_documents(50, seed=5))
    assert not a["text"].equals(inputs.base_documents(50, seed=6)["text"])
    assert a["text"].duplicated().any()      # exact copies to look up
    wide = inputs.widened_documents(a, 3, seed=5)
    assert len(wide) == 150 and wide["doc_id"].is_unique
    # each replica's tokens carry its own tag
    tags = [set(t.split()[0].split("_", 1)[0]
                for t in wide["text"][i * 50:(i + 1) * 50])
            for i in range(3)]
    assert all(len(t) == 1 for t in tags)
    assert len(set.union(*tags)) == 3


def test_exits_nonzero_without_the_library(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
