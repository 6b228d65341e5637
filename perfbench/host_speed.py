"""The benchmark's host-speed reference job, run as a child process.

    python3 perfbench/host_speed.py     # started by harness.HostSpeed

For every line read from stdin it runs one fixed job, a gather of 2M
random rows from a 64 MiB table, and writes the CPU-seconds it took. The
job touches no library code. On a shared host a neighbour's load makes
memory slower, and the CPU-seconds of every operation rise with it; this
job's CPU-seconds rise with them, so the benchmark divides its CPU-second
figures by the job's median time in the same run (see ``harness``).
"""

import sys
import time

import numpy as np


def main() -> None:
    rng = np.random.default_rng(0)
    table = rng.integers(0, 1 << 62, size=8 << 20)
    rows = rng.integers(0, table.size, size=2 << 20)
    table[rows].sum()  # fault the pages in before the first reading
    for _ in sys.stdin:
        t0 = time.thread_time()
        table[rows].sum()
        print(f"{time.thread_time() - t0:.9f}", flush=True)


if __name__ == "__main__":
    main()
