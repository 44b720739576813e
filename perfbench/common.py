"""Shared helpers of the CDC engine benchmark: percentiles, process
accounting, the Spark session, and the result line.

Nothing here imports the engine package, so the unit tests of these
helpers run without Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time

# The highest percentile a sample reports must keep at least this many
# samples beyond it, so one outlier cannot set the tail alone.
TAIL_SUPPORT = 10
# Mirror sizes are multiplied by this; the smoke tests shrink them with
# PERFBENCH_SCALE=0.1.
SCALE = float(os.environ.get("PERFBENCH_SCALE", "1"))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule) of a
    non-empty sequence; ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, target: float,
                         beyond: int = TAIL_SUPPORT) -> float | None:
    """The highest whole percentile <= ``target`` that leaves at least
    ``beyond`` of ``n`` samples above it, or None when ``n`` is too
    small for any percentile at or above the median to qualify."""
    if n <= 0:
        return None
    best = math.floor(100.0 * (n - beyond) / n)
    p = min(float(target), float(best))
    return p if p >= 50 else None


def tail(values, target: float, beyond: int = TAIL_SUPPORT):
    """(percentile used, value) for the highest supported percentile up
    to ``target``; falls back to the median when the sample is small,
    so the caller always gets a number and the percentile it stands
    for."""
    p = supported_percentile(len(values), target, beyond)
    if p is None:
        p = 50.0
    return p, percentile(values, p)


def median(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def geomean(values) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


# -- processes ---------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(exclude=()) -> list[int]:
    """This process and all its descendants, less the subtrees rooted
    at the pids in ``exclude``."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM): the driver, the JVM and any Python workers still alive."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree()) / 1024.0


# HotSpot's JIT compiler threads (names truncated to 15 characters).
# Their CPU is the JVM compiling itself warm, not the engine's work: it
# was about a third of a run's CPU, and when it lands swings with timing.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str) -> int:
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
            total += _ticks(stat)
    return total


def cpu_seconds(exclude=()) -> float:
    """User + system CPU seconds consumed so far by the live processes
    of the process tree, less the subtrees rooted at ``exclude`` and
    less the JIT compiler threads.

    Unlike wall time this does not count the time a shared host's
    hypervisor lends the benchmark's cores to other guests (steal),
    which swings from run to run. The compiler threads must not exit
    while the JVM lives (``-XX:-UseDynamicNumberOfCompilerThreads``), or
    their CPU would move back into the total."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(exclude):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += _ticks(fh.read())
        except OSError:
            continue
        total -= _jit_ticks(pid)
    return total / tick


# -- Spark -------------------------------------------------------------------

HEAP = "2g"


def start_spark(work: str, traced: bool):
    """The engine's own session factory on local[nproc], with scratch
    space, logs and the JVM temp dir kept inside ``work``."""
    from postgres_opensearch_cdc_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.memory": HEAP,
        # a fixed-size heap, resident from the start: the peak resident
        # set then tracks the footprint beyond the heap (native memory,
        # Python) rather than how much of the heap the collector touched
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={local} "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        # the status store must keep every job and stage of the run
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    # the first job of a session pays scheduler and codegen start-up
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, start_s, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait until it has
    exited. Closing the JVM's stdin is the gateway's own exit signal."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
