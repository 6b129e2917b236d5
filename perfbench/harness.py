"""Session, clock and CPU plumbing shared by the workloads.

The benchmark runs one Spark application per set-up round at
``local[<cores>]`` and keeps every file it writes under one work
directory inside the checkout (Spark scratch, warehouse, event logs,
temporary files), so a run reads and writes nothing outside it.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager

_TICKS = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every temp/scratch location of this process and its children
    (the JVM, the Python workers) at ``work``; put the checkout on the
    workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = tmp


def new_session(work: str, event_log_dir: str | None = None):
    """A fresh SparkSession; the JVM is launched on first use and reused
    by later sessions of the same process."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.retainedJobs", "100000")  # spark_jobs() counts them all
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM behind it; wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields after "comm)": state ppid ... utime(14) stime cutime cstime
        ppid = int(rest[1])
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (ppid, ticks)
    return out


def tree_cpu_s() -> float:
    """CPU-seconds used so far by this process and all its descendants
    (the Python driver, the JVM, the Python workers)."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total / _TICKS


def spark_jobs(spark) -> int:
    """Spark jobs the session's context has started so far. Waits until
    the listener bus has delivered every event posted so far, so a job
    that has started is counted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def host_steal_s() -> float:
    """CPU-seconds the hypervisor took from this machine's CPUs so far
    (``steal`` in /proc/stat, summed over CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICKS


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..1)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


class Recorder:
    """Times operations: wall and process-tree CPU seconds, and the Spark
    jobs each starts. Each op runs under its own Spark job group when
    tracing, and its wall-clock window is kept for the event-log split."""

    def __init__(self, spark, label_jobs: bool):
        self.spark = spark
        self.label_jobs = label_jobs
        self.lat: dict[str, list[float]] = {}
        self.windows: list[tuple[str, float, float]] = []  # (group, t0, t1) epoch s
        self.attempted = 0
        self.failed = 0
        self.op_wall = 0.0  # summed over ops, checks and input building excluded
        self.op_cpu = 0.0
        self.op_jobs = 0
        self.op_error: BaseException | None = None  # the last error an op raised

    @contextmanager
    def op(self, kind: str, group: str | None = None):
        group = group or kind
        if self.label_jobs:
            self.spark.sparkContext.setJobGroup(group, group)
        self.attempted += 1
        j0 = spark_jobs(self.spark)
        c0 = tree_cpu_s()
        e0, t0 = time.time(), time.perf_counter()
        try:
            yield
        except BaseException as e:
            self.failed += 1
            self.op_error = e
            raise
        finally:
            dt = time.perf_counter() - t0
            self.op_cpu += tree_cpu_s() - c0
            self.op_wall += dt
            self.op_jobs += spark_jobs(self.spark) - j0
            self.windows.append((group, e0, e0 + dt))
            if self.label_jobs:
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.lat.setdefault(kind, []).append(dt)

    def fail(self) -> None:
        """Count a failure raised outside any op (an output check)."""
        self.failed += 1


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
