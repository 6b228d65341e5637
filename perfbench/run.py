#!/usr/bin/env python3
"""fastbloom_spark benchmark: seeded workloads at local[nproc].

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout; the library is imported from
``./fastbloom_spark`` and nothing outside the checkout is read or written
(scratch files live under ``.perfbench_run/`` and are removed at exit).

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is a separate run that gives the per-layer metrics: spans
around the public calls each operation decomposes into, Spark's event log
attributing jobs, stages and tasks to them, and single-layer measurements.
Human-readable tables go to stdout first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload -> (operation group, the kinds it runs or None for all), set
#: up in this order. ``ingest`` and ``probe`` are the workloads in
#: BENCHMARK.json; ``corpus`` and ``stream`` run every kind of their
#: group and are too slow on a 4-core host to fit the benchmark's time
#: budget (the probe's skip index is built over the corpus documents).
WORKLOADS = {
    "ingest": [("ingest", None)],
    "probe": [("corpus", set()), ("probe", None)],
    "corpus": [("corpus", None)],
    "stream": [("stream", None)],
}

#: extra kinds a traced run adds, so that every layer has per-layer
#: numbers on a listed workload
TRACE_EXTRA = {
    "ingest": {"stream": {"stream_hll", "stream_dedup", "stream_contam"}},
    "probe": {"corpus": {"dedup", "decontam", "pipeline"}},
}

#: untimed cycles before the timed ones: a kind's first calls in a
#: session pay Python-worker start-up and most of the JVM's JIT
#: compilation, which goes on for a few cycles more
WARMUP_CYCLES = 2

#: set-ups per run. The first pays the session's one-off JIT and
#: Python-worker start and is not counted; setup_s is the median of the
#: others, warm set-ups
SETUP_REPS = 3

#: the gated throughputs: each is the input rows of its operation kinds
#: over their summed median CPU-seconds per call. Both listed workloads
#: report every one, so each pairs kinds of ``ingest`` (by merge
#: topology) with kinds of ``probe`` (a point lookup counts as one row)
SLOTS = {
    "build_or_probe_rows_per_cpu_s": ({"build"}, {"probe"}),
    "agg_or_sql_rows_per_cpu_s": ({"agg_lang"},
                                  {"sql_register", "sql_publish"}),
    "sketch_or_semijoin_rows_per_cpu_s": ({"hll", "cms"}, {"semijoin"}),
    "tdigest_or_lookup_rows_per_cpu_s": ({"tdigest"}, {"lookup"}),
}
SLOT_OF = {kind: slot for slot, (a, b) in SLOTS.items() for kind in a | b}

END_TO_END = [
    *[(slot, "rows/cpu_s", "higher") for slot in SLOTS],
    ("setup_s", "s", "lower"),
    ("driver_peak_rss_mb", "MB", "lower"),
]

LAYERS = ["op", "functions.digest", "plans.planner", "operators.bloom",
          "merge", "kernel", "sketch", "operators.sketch_agg", "sql",
          "sources.index", "operators.dedup", "operators.decontam",
          "operators.pipeline", "streaming"]

#: per-layer metrics that are a median span duration, by span name
SPAN_SECONDS = {
    "bloom.partials_s": "bloom_partials+collect",
    "bloom.driver_fold_s": "driver decode+OR",
    "bloom.merge_s": "bloom_merge",
    "sketch_agg.partials_s": "sketch_partials+collect",
    "sketch_agg.fold_s": "driver fold",
    "sketch_agg.tree_s": "sketch_agg merge tree",
    "dedup.candidates_s": "minhash_candidate_pairs",
    "dedup.verify_s": "ngram_jaccard_pairs",
    "decontam.explode_probe_s": "gram explode+probe collect",
    "pipeline.call_s": "corpus_pipeline",
}

PER_LAYER = [
    ("kernel.insert_rows_per_s", "rows/s", "higher"),
    ("kernel.contains_rows_per_s", "rows/s", "higher"),
    ("kernel.encode_mb_per_s", "MB/s", "higher"),
    ("kernel.decode_mb_per_s", "MB/s", "higher"),
    ("sketch.hll_update_rows_per_s", "rows/s", "higher"),
    ("sketch.cms_update_rows_per_s", "rows/s", "higher"),
    ("sketch.tdigest_update_rows_per_s", "rows/s", "higher"),
    ("digest.sha256_rows_per_s", "rows/s", "higher"),
    ("digest.xxh64_rows_per_s", "rows/s", "higher"),
    ("bloom.arrow_identity_s", "s", "lower"),
    ("bloom.arrow_share", "fraction", "lower"),
    ("bloom.partials_s", "s", "lower"),
    ("bloom.partial_rows", "count", "lower"),
    ("bloom.partial_bytes", "bytes", "lower"),
    ("bloom.driver_fold_s", "s", "lower"),
    ("bloom.merge_s", "s", "lower"),
    ("bloom.semijoin_pass_ratio", "fraction", "lower"),
    ("bloom.semijoin_exact_only_s", "s", "lower"),
    ("bloom.realised_fpr", "fraction", "lower"),
    ("bloom.configured_fpr", "fraction", "lower"),
    ("planner.build_partitions", "count", "higher"),
    ("planner.partial_state_bytes", "bytes", "lower"),
    ("planner.merge_strategy", "code", "lower"),
    ("planner.scan_strategy", "code", "lower"),
    ("sketch_agg.partials_s", "s", "lower"),
    ("sketch_agg.partial_bytes", "bytes", "lower"),
    ("sketch_agg.fold_s", "s", "lower"),
    ("sketch_agg.tree_s", "s", "lower"),
    ("sql.register_probe_rows_per_s", "rows/s", "higher"),
    ("sql.publish_probe_rows_per_s", "rows/s", "higher"),
    ("index.handle_load_ms", "ms", "lower"),
    ("index.prune_ms", "ms", "lower"),
    ("index.scan_ms", "ms", "lower"),
    ("index.skipped_fraction", "fraction", "higher"),
    ("index.jobs_per_lookup", "count", "lower"),
    ("text.shingle_s", "s", "lower"),
    ("dedup.candidates_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verify_s", "s", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.useful_ratio", "fraction", "higher"),
    ("decontam.bench_grams", "count", "lower"),
    ("decontam.grams_s", "s", "lower"),
    ("decontam.explode_probe_s", "s", "lower"),
    ("decontam.flagged_docs", "count", "lower"),
    ("pipeline.call_s", "s", "lower"),
    ("pipeline.quality_s", "s", "lower"),
    ("pipeline.redact_s", "s", "lower"),
    ("pipeline.dedup_exact_s", "s", "lower"),
    ("pipeline.decontam_s", "s", "lower"),
    ("pipeline.split_pack_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_per_batch", "rows", "higher"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.result_bytes", "bytes", "lower"),
    ("spark.python_bytes_sent", "bytes", "lower"),
    ("spark.python_bytes_received", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("driver.self_s", "s", "lower"),
    *[(f"share.{layer}", "fraction", "lower") for layer in LAYERS],
    ("trace.overhead", "fraction", "lower"),
    ("trace.child_coverage", "fraction", "higher"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_groups(workload, spark, seed, scratch, trace: bool):
    import groups as g

    plan = dict(WORKLOADS[workload])
    if trace:
        for name, extra in TRACE_EXTRA.get(workload, {}).items():
            kinds = plan.get(name, set())
            plan[name] = None if kinds is None else set(kinds) | extra
    made: dict = {}
    for name, kinds in plan.items():
        if name == "ingest":
            grp = g.Ingest(spark, seed, scratch)
        elif name == "stream":
            grp = g.Stream(spark, seed, scratch)
        elif name == "corpus":
            grp = g.Corpus(spark, seed, scratch)
        else:
            grp = g.Probe(spark, seed, scratch, made.get("corpus"))
        grp.selected = kinds
        made[name] = grp
    return list(made.values())


def setup_groups(groups, reps: int,
                 host=None) -> tuple[list[float], list[float]]:
    """Set every group up ``reps`` times (tearing down in between) and
    return the CPU-seconds and wall seconds of each repetition after the
    first; the last set-up stays in place. A ``host`` runs its reference
    job after each set-up."""
    from harness import tree_cpu_s

    cpu, wall = [], []
    for i in range(reps):
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        parts = []
        for grp in groups:
            t1 = time.perf_counter()
            grp.setup()
            parts.append(f"{grp.name} {time.perf_counter() - t1:.2f}")
        cpu.append(tree_cpu_s(os.getpid()) - c0)
        wall.append(time.perf_counter() - t0)
        if host is not None:
            host.sample()
        print(f"set-up {i + 1}: {cpu[-1]:.2f} cpu_s, {wall[-1]:.2f} s wall "
              f"({', '.join(parts)})")
        if i < reps - 1:
            for grp in reversed(groups):
                grp.teardown()
    for grp in groups:
        grp.references()
    return cpu[1:] or cpu, wall[1:] or wall


def fmt(v: float) -> str:
    return f"{v:.6g}"


def end_to_end(ops, loop, setup, rss_mb, host):
    """Per-kind statistics, the named metrics and the JSON metrics.
    CPU-seconds are scaled by ``host.scale()`` (see ``harness.HostSpeed``)
    before they enter a metric."""
    from harness import percentile, summary

    scale = host.scale()
    hs = summary(host.samples)
    print(f"host-speed reference job: median {hs['p50'] * 1e3:.2f} ms "
          f"(n={hs['n']}, q1={hs['q1'] * 1e3:.2f}, q3={hs['q3'] * 1e3:.2f}); "
          f"CPU-seconds scaled by {scale:.4f}")

    wall, cpu = {}, {}
    print(f"{'operation':<14}{'n':>3}{'p50_s':>9}{'q1_s':>9}{'q3_s':>9}"
          f"{'cpu_s':>9}{'rows':>8}{'rows/s':>11}{'rows/cpu_s':>12}")
    for op in ops:
        s = summary(loop.latencies[op.name])
        # a kind without a timed call (every call failed) has no rate
        wall[op.name] = s["p50"] if s["n"] else math.inf
        cpu[op.name] = statistics.median(loop.cpu[op.name]) * scale \
            if s["n"] else math.inf
        print(f"{op.name:<14}{s['n']:>3}{s['p50']:>9.4f}{s['q1']:>9.4f}"
              f"{s['q3']:>9.4f}{cpu[op.name]:>9.3f}{op.rows:>8}"
              f"{op.rows / wall[op.name]:>11.1f}"
              f"{op.rows / cpu[op.name]:>12.1f}")
    feeds: dict[str, list] = {}
    for op in ops:
        feeds.setdefault(op.metric, []).append(op)
    # each named metric and each gated throughput: the rows of the kinds
    # feeding it over their summed median time, so every kind weighs by
    # its cost
    rate = lambda kinds, per: sum(op.rows for op in kinds) / sum(
        per[op.name] for op in kinds)
    print("named metrics:")
    for name, kinds in feeds.items():
        if name.endswith("_per_s"):
            unit = "docs/s" if name.endswith("docs_per_s") else "rows/s"
            print(f"  {name} = {fmt(rate(kinds, wall))} {unit}")
    samples = {}
    for op in ops:
        for key, vals in op.samples.items():
            samples.setdefault(key, []).extend(vals)
    if "lookup_ms" in samples:
        lk = samples["lookup_ms"]
        print(f"  lookup_p50_ms = {fmt(statistics.median(lk))} ms "
              f"(n={len(lk)})")
        # a tail percentile needs ten samples beyond it
        beyond = len(lk) - math.ceil(0.9 * len(lk))
        if beyond >= 10:
            print(f"  lookup_p90_ms = {fmt(percentile(lk, 90))} ms "
                  f"(n={len(lk)})")
        else:
            print(f"  lookup_p90_ms: not reported, {beyond} of {len(lk)} "
                  f"lookups lie beyond it (needs 10)")
    if "batch_ms" in samples:
        bm = samples["batch_ms"]
        print(f"  stream_batch_p50_ms = {fmt(statistics.median(bm))} ms "
              f"(n={len(bm)})")
    setup_cpu, setup_wall = setup
    s = summary([c * scale for c in setup_cpu])
    print(f"  setup_s = {fmt(s['p50'])} cpu_s (n={s['n']}, "
          f"q1={fmt(s['q1'])}, q3={fmt(s['q3'])}); wall "
          f"{fmt(statistics.median(setup_wall))} s")
    print(f"  driver_peak_rss_mb = {fmt(rss_mb)} MB")
    slots: dict[str, list] = {}
    for op in ops:
        if op.name in SLOT_OF:
            slots.setdefault(SLOT_OF[op.name], []).append(op)
    out = {}
    for name, kinds in slots.items():
        out[name] = rate(kinds, cpu)
        print(f"  {name} = {fmt(out[name])} rows/cpu_s "
              f"({', '.join(op.name for op in kinds)})")
    out["setup_s"] = s["p50"]
    out["driver_peak_rss_mb"] = rss_mb
    return out


def traced_metrics(ops, untraced, rec, log, extras):
    """Per-layer metrics from the spans, the event log and the groups'
    single-layer measurements."""
    import spans as sp

    out = dict.fromkeys((m for m, _, _ in PER_LAYER), 0.0)
    out.update({k: v for k, v in extras.items() if k in out})
    by_name: dict[str, list[float]] = {}
    for s in rec.spans:
        by_name.setdefault(s.name, []).append(s.duration)
    med = lambda name: statistics.median(by_name[name]) \
        if name in by_name else 0.0
    for metric, name in SPAN_SECONDS.items():
        out[metric] = med(name)
    probe_rows = {op.name: op.rows for op in ops}
    for metric, name, op in (
            ("sql.register_probe_rows_per_s", "register_bloom_sql probe",
             "sql_register"),
            ("sql.publish_probe_rows_per_s", "publish_bloom_sql probe",
             "sql_publish")):
        if name in by_name:
            out[metric] = probe_rows[op] / med(name)
    if "pruned_read count" in by_name:
        out["index.scan_ms"] = med("pruned_read count") * 1e3
    arrow_base = out["bloom.partials_s"] or med("bloom_contains_col count")
    if arrow_base:
        out["bloom.arrow_share"] = out["bloom.arrow_identity_s"] / arrow_base

    roots = rec.roots()
    total = sum(r.duration for r in roots)
    layer_self = sp.layer_self_times(rec)
    for layer in LAYERS:
        out[f"share.{layer}"] = layer_self.get(layer, 0.0) / total

    groups_of = {}
    for s in rec.spans:
        groups_of.setdefault(s.op_id, set()).add(s.id)
    per_group = sp.spark_by_group(log)
    for key in sp.SPARK_KEYS:
        out[f"spark.{key}"] = sum(
            per_group.get(gid, {}).get(key, 0.0)
            for ids in groups_of.values() for gid in ids) / len(roots)
    out["spark.task_skew"] = statistics.median(
        sp.widest_stage_skew(log, groups_of[r.op_id]) for r in roots)
    out["driver.self_s"] = statistics.mean(
        sp.driver_self_s(log, r, groups_of[r.op_id]) for r in roots)
    scan_ids = {s.id for s in rec.spans if s.name == "pruned_read count"}
    if scan_ids:
        out["index.jobs_per_lookup"] = sum(
            per_group.get(i, {}).get("jobs", 0.0)
            for i in scan_ids) / len(scan_ids)

    # tracing overhead and coverage, per operation kind
    print(f"{'operation':<16}{'untraced_p50_s':>15}{'traced_p50_s':>14}"
          f"{'overhead':>10}{'children':>10}")
    overheads, coverage = [], []
    for op in ops:
        mine = [r for r in roots if r.name == op.name]
        if not mine or not untraced.get(op.name):
            continue
        t = statistics.median(r.duration for r in mine)
        u = statistics.median(untraced[op.name])
        cov = statistics.median(sp.child_coverage(rec, r) for r in mine)
        overheads.append(t / u - 1.0)
        coverage.append(cov)
        print(f"{op.name:<16}{u:>15.4f}{t:>14.4f}{t / u - 1.0:>10.3f}"
              f"{cov:>10.3f}")
    if overheads:
        out["trace.overhead"] = statistics.median(overheads)
        out["trace.child_coverage"] = statistics.median(coverage)

    print("layer self time per operation kind (s):")
    st = sp.self_times(rec)
    for op in ops:
        mine = {r.op_id for r in rec.roots() if r.name == op.name}
        per: dict[str, float] = {}
        for s in rec.spans:
            if s.op_id in mine:
                per[s.layer] = per.get(s.layer, 0.0) + st[s.id] / len(mine)
        print(f"  {op.name:<14} " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(per.items())))
    return out


def run_workload(spark, name, args, scratch, rec=None, host=None):
    """Set up, measure and check one workload; returns (attempted, failed,
    metrics). An untraced run takes a ``host`` (``harness.HostSpeed``)."""
    import harness

    groups = make_groups(name, spark, args.seed, scratch, bool(args.trace))
    setup = setup_groups(groups, 1 if args.trace else SETUP_REPS, host)
    ops = [op for grp in groups for op in grp.ops() if grp.wants(op.name)]
    print(f"== workload {name}: seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    if not args.trace:
        loop = harness.closed_loop(ops, args.seconds, min_cycles=3,
                                    warmup_cycles=WARMUP_CYCLES, host=host)
        attempted, failed, errors = loop.attempted, loop.failed, loop.errors
        metrics = end_to_end(ops, loop, setup, harness.peak_rss_mb(), host)
    else:
        # each of the workload's own kinds runs untraced and traced back
        # to back (which goes first alternates between kinds), after one
        # untimed warm-up cycle; the kinds TRACE_EXTRA adds run traced only
        extra = {k for kinds in TRACE_EXTRA.get(name, {}).values()
                 for k in kinds}
        own = [op for op in ops if op.name not in extra]
        warm = harness.closed_loop(own, 0.0, min_cycles=0, warmup_cycles=1)
        decomposed = {}
        for grp in groups:
            decomposed.update(grp.trace(rec))

        def traced(op):
            def run() -> None:
                with rec.span(op.name, "op"):
                    decomposed[op.name]()
            return harness.Op(op.name, op.metric, op.rows, run)

        paired = []
        for i, op in enumerate(own):
            plain = harness.Op(f"{op.name}#untraced", op.metric, op.rows,
                               op.run)
            paired += [plain, traced(op)] if i % 2 else [traced(op), plain]
        paired += [traced(op) for op in ops if op.name in extra]
        loop = harness.closed_loop(paired, args.seconds)
        untraced = {op.name: loop.latencies[f"{op.name}#untraced"]
                    for op in own}
        extras = {}
        for grp in groups:
            extras.update(grp.layer_metrics())
        attempted = warm.attempted + loop.attempted
        failed = warm.failed + loop.failed
        errors = warm.errors + loop.errors
        metrics = (ops, untraced, extras)
    print(f"  error_rate = {fmt(failed / attempted)} fraction "
          f"({failed}/{attempted})")
    for e in errors[:20]:
        print(f"  FAILED {e}")
    for grp in reversed(groups):
        grp.teardown()
    return attempted, failed, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if args.trace and len(names) > 1:
        print("perfbench: --trace 1 takes one workload", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "fastbloom_spark",
                                       "__init__.py")):
        print("perfbench: fastbloom_spark/ not found next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import fastbloom_spark

    if not os.path.abspath(fastbloom_spark.__file__).startswith(ROOT):
        print("perfbench: imported fastbloom_spark from outside the "
              "checkout", file=sys.stderr)
        return 2
    import harness
    import spans

    scratch = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    event_dir = os.path.join(scratch, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = host = None
    try:
        if not args.trace:
            host = harness.HostSpeed()
        t0 = time.perf_counter()
        spark = harness.make_session(ROOT, scratch, event_log_dir=event_dir)
        print(f"host: nproc={harness.host_nproc()} "
              f"MemTotal={harness.host_mem_total_mb()} MB; session start "
              f"{time.perf_counter() - t0:.2f} s")
        rec = spans.SpanRecorder(spark.sparkContext) if args.trace else None
        attempted = failed = 0
        results = {}
        for name in names:
            if host is not None:
                host.samples.clear()
            a, f, m = run_workload(spark, name, args, scratch, rec, host)
            attempted += a
            failed += f
            results[name] = m
        harness.stop_session(spark)
        spark = None
        if args.trace:
            # kept after the run, for inspection
            spans_path = os.path.join(
                os.path.dirname(scratch),
                f"spans-{args.workload}-seed{args.seed}.jsonl")
            rec.dump(spans_path)
            print(f"spans written to {os.path.relpath(spans_path, ROOT)}")
            log = spans.read_event_logs(event_dir)
            ops, untraced, extras = results[names[-1]]
            metrics = traced_metrics(ops, untraced, rec, log, extras)
            units = {m: u for m, u, _ in PER_LAYER}
            out = {k: {"value": float(v), "unit": units[k]}
                   for k, v in metrics.items()}
        else:
            # one workload: its metrics; ``all``: each prefixed by workload
            units = {m: u for m, u, _ in END_TO_END}
            out = {}
            for w, m in results.items():
                prefix = "" if len(names) == 1 else f"{w}."
                out.update({prefix + k: {"value": float(v), "unit": units[k]}
                            for k, v in m.items()})
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            harness.stop_session(spark)
        if host is not None:
            host.close()
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
