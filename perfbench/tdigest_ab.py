#!/usr/bin/env python3
"""Interleaved A/B of the ``ingest`` workload's t-digest operation between
two source trees.

    python3 perfbench/tdigest_ab.py --a <tree A> --b <tree B> --pairs 10

Each tree gets one worker process with its own local Spark session that
imports ``fastbloom_spark`` from that tree and builds the same seeded
``lineitem`` input. After one untimed warm-up call per side, the parent
asks the workers for one ``sketch_build(l_extendedprice, TDigestSketch)``
call at a time, alternating which side goes first in each pair, so both
sides see the same host conditions. Prints each side's median and
quartiles, the pairs won, and every timing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def worker(root: str, seed: int, scratch: str) -> None:
    sys.path[:0] = [HERE, root]
    import harness
    import inputs
    from groups import SIZES

    from fastbloom_spark.operators.sketch_agg import sketch_build
    from fastbloom_spark.sketch import TDigestSketch

    os.makedirs(scratch, exist_ok=True)
    spark = harness.make_session(root, scratch, event_log_dir=None)
    try:
        li = inputs.lineitem(spark, SIZES["orders"], seed,
                             SIZES["code_partitions"]).persist()
        n = li.count()

        def once() -> list[float]:
            """Wall seconds and process-tree CPU seconds of one call."""
            c0 = harness.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            _, seen = sketch_build(li, "l_extendedprice",
                                   TDigestSketch(delta=200))
            dt = time.perf_counter() - t0
            if seen != n:
                raise RuntimeError(f"rows_seen {seen} != {n}")
            return [dt, harness.tree_cpu_s(os.getpid()) - c0]

        once()
        print("ready", flush=True)
        for line in sys.stdin:
            if line.strip() != "run":
                break
            print(json.dumps(once()), flush=True)
    finally:
        harness.stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--worker")
    ap.add_argument("--scratch")
    args = ap.parse_args()
    if args.worker:
        worker(args.worker, args.seed, args.scratch)
        return 0
    procs = {}
    for side, root in (("a", args.a), ("b", args.b)):
        procs[side] = subprocess.Popen(
            [sys.executable, __file__, "--worker", os.path.abspath(root),
             "--seed", str(args.seed), "--scratch",
             os.path.join(os.path.abspath(root), ".perfbench_run", "ab")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
    try:
        for side, p in procs.items():
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError(f"worker {side} failed to start")
        times = {"a": [], "b": []}
        for i in range(args.pairs):
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            for side in order:
                procs[side].stdin.write("run\n")
                procs[side].stdin.flush()
                times[side].append(json.loads(procs[side].stdout.readline()))
    finally:
        for p in procs.values():
            if p.stdin and not p.stdin.closed:
                p.stdin.close()
        for p in procs.values():
            p.wait(timeout=120)
    for i, what in enumerate(("wall s", "cpu s")):
        for side in ("a", "b"):
            vals = [t[i] for t in times[side]]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            print(f"{what} {side}: median {statistics.median(vals):.4f} "
                  f"(q1 {q1:.4f}, q3 {q3:.4f}, n={len(vals)})")
        wins = sum(b[i] < a[i] for a, b in zip(times["a"], times["b"]))
        print(f"{what}: b lower in {wins}/{args.pairs} pairs")
    print(json.dumps(times))
    return 0


if __name__ == "__main__":
    sys.exit(main())
