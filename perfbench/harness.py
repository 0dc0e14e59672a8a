"""Shared pieces of the benchmark: host context, the Spark session it
builds for itself, process CPU and memory readings, percentile choice and
small timing helpers.

Only ``start_session`` imports Spark and the engine, so the other helpers
can be tested without them.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass
from pathlib import Path

#: root of the checkout the benchmark runs from (the parent of this
#: directory); every file the benchmark writes lives under ``WORK``
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

#: percentiles the tail metric may take, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ---------------------------------------------------------------- statistics

def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon keeps 99.9 % of 10000 at rank 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest ladder percentile with at least ``beyond`` of ``n``
    samples above its nearest rank, or None when even the median has
    fewer than ``beyond`` samples above it."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= beyond:
            return p
    return None


# ---------------------------------------------------------------- host

def cpu_stat_fields(line: str) -> tuple[int, int]:
    """``(total, steal)`` jiffies of an aggregate ``cpu`` line of
    /proc/stat. The total sums the first eight fields only (user nice
    system idle iowait irq softirq steal): guest and guest_nice are
    already counted inside user and nice, so adding them counts guest time
    twice. Steal is field 7 alone."""
    vals = [int(x) for x in line.split()[1:]]
    return sum(vals[:8]), vals[7]


def read_cpu_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return cpu_stat_fields(f.readline())


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def host_context(spark_cores: int) -> dict:
    return {"nproc": os.cpu_count(), "spark_cores": spark_cores,
            "loadavg_1m": os.getloadavg()[0]}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User+sys CPU seconds of ``pid`` and all its descendants, counting
    reaped children through cutime/cstime (Python workers that exited
    were reaped by the JVM or the worker daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------- session

@dataclass
class Session:
    """The benchmark's own Spark session plus the handles it needs to
    measure and stop it."""
    spark: object
    jvm_pid: int
    gateway_proc: object
    eventlog_dir: Path | None

    def stop(self) -> None:
        """Stop Spark, shut the JVM down and wait until it has exited."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.gateway_proc
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def start_session(cores: int, trace: bool, work: Path) -> Session:
    """A local[cores] session with the engine's runtime confs. Scratch
    space, temp files and the event log all live under ``work``; Python
    workers get the checkout root on their path so UDFs and the seeded
    log transport import from any working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile
    tempfile.tempdir = str(tmp)
    path = os.environ.get("PYTHONPATH", "")
    if str(ROOT) not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            x for x in (str(ROOT), path) if x)

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from ai_incident_analyst_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    b = (SparkSession.builder.appName("perfbench")
         .master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
         .config("spark.driver.memory", "4g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.files.maxPartitionBytes", "32m")
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 # no hsperfdata file in the system temp directory
                 f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp}")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
         .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
    evdir = None
    if trace:
        evdir = work / "eventlog"
        evdir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(evdir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(spark)
    proc = getattr(SparkContext._gateway, "proc", None)
    java = [p for p in descendants(os.getpid()) if _comm(p) == "java"]
    if not java:
        raise RuntimeError("no JVM process found under the benchmark")
    return Session(spark=spark, jvm_pid=java[0],
                   gateway_proc=proc, eventlog_dir=evdir)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class Tagged:
    """``with Tagged(spark, "pb-x"):`` — every Spark job started by this
    thread inside the block carries the tag, so the event log attributes
    it to the operation."""

    def __init__(self, spark, tag: str):
        self.spark, self.tag = spark, tag

    def __enter__(self):
        self.spark.addTag(self.tag)
        return self

    def __exit__(self, *exc):
        self.spark.removeTag(self.tag)
        return False


now = time.perf_counter
