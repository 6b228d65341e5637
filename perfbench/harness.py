"""Session, closed-loop timing and statistics for the benchmark.

The session runs at ``local[nproc]`` with shuffle partitions equal to
nproc, driver memory sized from MemTotal, no console progress bars, and
every file Spark or Python writes kept under one scratch directory inside
the checkout.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable


def host_nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_total_mb: int) -> int:
    """A sixth of the host, at least 1 GiB and at most 4 GiB: the driver
    holds collected partials and the probe filters, never the inputs."""
    return max(1024, min(4096, mem_total_mb // 6))


def make_session(root: str, scratch: str, *, event_log_dir: str | None):
    """Start the benchmark's SparkSession through the library's own
    ``session.get_spark``. ``root`` is put on the Python workers' path,
    after ``worker_site`` (see its ``sitecustomize``)."""
    nproc = host_nproc()
    site = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "worker_site")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (site, root, os.environ.get("PYTHONPATH", "")) if p)
    # numeric, so get_spark honours the requested shuffle partitions
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = \
        f"{driver_memory_mb(host_mem_total_mb())}m"
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; PySpark's
    # gateway start-up writes through tempfile, which caches its directory
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = scratch
    tempfile.tempdir = scratch
    from fastbloom_spark.session import get_spark

    # compiler threads that stop when idle would take their CPU out of
    # what tree_cpu_s subtracts, so keep them all for the session
    java_opts = (f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executorEnv.TMPDIR": scratch,
        "spark.sql.streaming.checkpointLocation":
            os.path.join(scratch, "checkpoints"),
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM gateway and wait for its process
    (the Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_TCK = os.sysconf("SC_CLK_TCK")

#: processes ``tree_cpu_s`` leaves out, with their descendants (the
#: host-speed reference job)
_excluded: set[int] = set()

#: CPU seconds the driver has spent inside ``tree_cpu_s`` itself; taken
#: out of what it reports, so that polling for a quiet tree is not
#: charged to the operation being measured
_probe_cost_s = 0.0


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of its reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] is ppid; cutime, cstime are 13 and 14
        out[int(name)] = (int(fields[1]),
                          (int(fields[13]) + int(fields[14])) / _TCK)
    return out


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of all threads of ``pid``, live and exited, to the
    nanosecond: its process CPU-time clock (``/proc/<pid>/stat`` counts
    in clock ticks, which over a dozen processes adds up to tens of
    milliseconds of rounding per reading)."""
    return time.clock_gettime((~pid << 3) | 2)  # CPUCLOCK_SCHED, process


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                total += int(fh.read().split()[0])
        except OSError:
            continue
    return total / 1e9


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants
    (the driver, the Spark JVM and the Python workers it starts), minus
    the JVM's JIT compiler threads: their background work after warm-up
    is not the operation's and varies from run to run. The driver's own
    cost of taking this reading is left out."""
    global _probe_cost_s
    t0 = time.thread_time()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid not in table or pid in _excluded:
            continue
        try:
            own = _process_cpu_s(pid)
        except OSError:  # exited since the table was read
            continue
        total += own + table[pid][1] - _jit_cpu_s(pid)
        todo.extend(kids.get(pid, []))
    _probe_cost_s += time.thread_time() - t0
    return total - _probe_cost_s


#: CPU-seconds of one host-speed reference job on a reference host: a
#: round figure near its median on the 4-vCPU host of the notes' baseline
#: (40-46 ms). CPU-second metrics are scaled by this over the run's own
#: median, so they read as CPU-seconds of that host; a comparison of two
#: runs does not depend on the value
HOST_SPEED_REF_S = 0.045


class HostSpeed:
    """The host-speed reference job (``host_speed.py``) in a child
    process that ``tree_cpu_s`` leaves out. ``sample()`` runs the job once
    and returns its CPU-seconds; ``scale()`` is the factor that turns the
    run's CPU-seconds into CPU-seconds of the reference host."""

    def __init__(self) -> None:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "host_speed.py")
        self.proc = subprocess.Popen([sys.executable, path],
                                     stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        _excluded.add(self.proc.pid)
        self.samples: list[float] = []

    def sample(self) -> float:
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("host-speed reference job exited")
        self.samples.append(float(line))
        return self.samples[-1]

    def scale(self) -> float:
        return HOST_SPEED_REF_S / statistics.median(self.samples)

    def close(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        _excluded.discard(self.proc.pid)


def settled_cpu_s(root_pid: int, *, window: float = 0.1,
                  idle_share: float = 0.2, cap: float = 1.0) -> float:
    """``tree_cpu_s`` once the tree has gone quiet: less than
    ``idle_share`` of one core used over ``window`` seconds, waiting at
    most ``cap`` seconds. An operation's tail (Spark's asynchronous
    clean-up, a stopped query's threads) then counts toward it instead of
    toward the next operation."""
    deadline = time.perf_counter() + cap
    prev = tree_cpu_s(root_pid)
    while time.perf_counter() < deadline:
        time.sleep(window)
        cur = tree_cpu_s(root_pid)
        if cur - prev < idle_share * window:
            return cur
        prev = cur
    return prev


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def summary(values: list[float]) -> dict[str, float]:
    """Median, quartiles and sample count."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        return {"n": 0, "p50": math.nan, "q1": math.nan, "q3": math.nan}
    if n == 1:
        return {"n": 1, "p50": vals[0], "q1": vals[0], "q3": vals[0]}
    # inclusive: with few samples the default method extrapolates
    # beyond the smallest and largest values
    q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return {"n": n, "p50": statistics.median(vals), "q1": q1, "q3": q3}


def percentile(values: list[float], p: float) -> float:
    vals = sorted(values)
    if not vals:
        return math.nan
    idx = min(len(vals) - 1, max(0, math.ceil(p / 100.0 * len(vals)) - 1))
    return vals[idx]


class CheckFailed(Exception):
    """An operation's result did not match its reference."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    """One operation kind of a workload.

    ``run()`` performs the operation and raises :class:`CheckFailed` (or
    anything else) when it fails. ``rows`` is the input size one call
    processes, used for throughput; ``metric`` names the per-operation
    metric it feeds in the printout. ``samples`` optionally receives extra
    per-call latencies (point lookups, streaming batches) from ``run``."""
    name: str
    metric: str
    rows: int
    run: Callable[[], None]
    samples: dict[str, list[float]] = field(default_factory=dict)


@dataclass
class LoopResult:
    latencies: dict[str, list[float]]
    attempted: int
    failed: int
    errors: list[str]
    cpu: dict[str, list[float]]


def closed_loop(ops: list[Op], seconds: float, *, min_cycles: int = 1,
                warmup_cycles: int = 0,
                host: HostSpeed | None = None) -> LoopResult:
    """One client, back to back: run the operation kinds in a fixed cycle
    until ``seconds`` have elapsed (finishing the cycle in progress) and
    at least ``min_cycles`` timed cycles ran.

    The first ``warmup_cycles`` cycles are not timed and do not count
    toward ``seconds``: a kind's first call in a session pays one-off JIT
    and worker start-up. A call's CPU-seconds run from its start until the
    process tree is quiet after it returns (``settled_cpu_s``). A raised
    exception or failed check counts as a failed operation, warm-up or
    not; its latency is not recorded and it is never retried. With a
    ``host``, its reference job runs once after every call, between the
    call's last CPU reading and the next call's first."""
    lat: dict[str, list[float]] = {op.name: [] for op in ops}
    cpu: dict[str, list[float]] = {op.name: [] for op in ops}
    attempted = failed = cycles = 0
    errors: list[str] = []
    t_start = time.perf_counter()
    while (cycles < warmup_cycles + min_cycles
           or time.perf_counter() - t_start < seconds):
        if cycles == warmup_cycles:
            t_start = time.perf_counter()
            for op in ops:
                op.samples.clear()
        for op in ops:
            attempted += 1
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                op.run()
            except Exception as exc:  # the loop must keep running
                failed += 1
                errors.append(f"{op.name}: {type(exc).__name__}: {exc}")
                continue
            finally:
                t1 = time.perf_counter()
                c1 = settled_cpu_s(os.getpid())
                if host is not None:
                    host.sample()
            if cycles >= warmup_cycles:
                lat[op.name].append(t1 - t0)
                cpu[op.name].append(c1 - c0)
        cycles += 1
    return LoopResult(lat, attempted, failed, errors, cpu)
