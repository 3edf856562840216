"""Process plumbing shared by the workloads: where the benchmark writes,
the Spark session's life cycle, host context, peak memory, order
statistics and span tracing.

Everything the benchmark writes goes under ``.bench_work/`` at the root of
the checkout (Spark scratch, the JVM's temp dir, cached inputs, tables,
trace files), so a run touches nothing outside the checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
PACKAGE = "fhir_data_validation_spark"
# one fixed driver heap for every run, committed and touched at start
# (-Xms = -Xmx, AlwaysPreTouch): the package default scales the heap with
# the core count (8g+) and the JVM grows into it at its own pace, so peak
# RSS wandered by a quarter between identical runs. A pre-touched heap is
# resident in full whatever the program keeps in it, so the memory metric
# counts the heap by its live set instead (``peak_mem_mb``).
DRIVER_MEM = "2g"
MIB = 1024 * 1024


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``.bench_work`` — must run before pyspark starts the JVM."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # glibc gives each thread that allocates its own malloc arena, so the
    # JVM's resident off-heap memory depended on which threads happened to
    # allocate; two arenas make it repeat
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'}",
        "pyspark-shell"])


def start_session():
    """A fresh SparkSession through the package's own factory on
    ``local[nproc]``; the first call also launches the JVM."""
    from fhir_data_validation_spark.session import get_spark
    spark = get_spark("fdv-benchmark", cores=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    import subprocess

    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ host context --

def _cpu_sample() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) since boot from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


class HostContext:
    """Context recorded with every run and never used as a metric:
    nproc, CPU-steal share over the run (a /proc/stat delta, not the
    boot-cumulative ratio), 1-minute load, Spark and Java versions."""

    def __init__(self):
        self._start = _cpu_sample()

    def report(self, spark) -> dict:
        end = _cpu_sample()
        steal = None
        if self._start and end and end[1] > self._start[1]:
            steal = round((end[0] - self._start[0])
                          / (end[1] - self._start[1]), 4)
        out = {"nproc": cores(), "cpu_steal_share": steal,
               "load1": round(os.getloadavg()[0], 2),
               "python": sys.version.split()[0]}
        if spark is not None:
            out["spark"] = spark.version
            out["java"] = spark._jvm.java.lang.System.getProperty(
                "java.version")
        return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this Python process and
    every process it started (the Spark JVM), in MiB."""
    me = os.getpid()
    parents: dict[int, int] = {}
    hwm: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                status = f.read()
        except OSError:
            continue
        pid = int(entry)
        for line in status.splitlines():
            if line.startswith("PPid:"):
                parents[pid] = int(line.split()[1])
            elif line.startswith("VmHWM:"):
                hwm[pid] = int(line.split()[1])

    def mine(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parents.get(pid, 0)
        return False

    return sum(kb for pid, kb in hwm.items() if mine(pid)) / 1024


def live_heap_mb(spark) -> float:
    """The driver JVM's heap in use right after a full collection: what
    the program keeps live, in MiB."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage().getUsed() / MIB)


def committed_heap_mb(spark) -> float:
    """The driver JVM's committed heap, resident in full (pre-touched)."""
    return spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / MIB


# -------------------------------------------------------------- statistics --

def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return round(100.0 * (n - 10) / n, 1), sorted(values)[n - 11]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as the acceptance rule
    computes them with ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


# ----------------------------------------------------------------- tracing --

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` costs one generator frame and records nothing.
    Enabled, every span also records the Spark jobs, stages and tasks that
    ran inside it (new ids in the status tracker between its start and
    end)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        before = self._job_ids()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op,
                               attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            sp = self.spans[idx]
            sp.end = time.perf_counter()
            sp.attrs.update(self._scheduler_counts(before))

    def _job_ids(self) -> set[int]:
        if self.spark is None:
            return set()
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None))

    def _scheduler_counts(self, before: set[int]) -> dict:
        if self.spark is None:
            return {}
        tracker = self.spark.sparkContext.statusTracker()
        jobs = sorted(self._job_ids() - before)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages,
                "spark.tasks": tasks}

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it covered by direct children."""
        sp = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, median duration and median self time."""
        by: dict[str, list[int]] = {}
        for i, sp in enumerate(self.spans):
            by.setdefault(sp.name, []).append(i)
        return {name: {"calls": len(ix),
                       "median_s": median([self.spans[i].end
                                           - self.spans[i].start
                                           for i in ix]),
                       "median_self_s": median([self.self_time(i)
                                                for i in ix])}
                for name, ix in sorted(by.items())}

    def write(self, path: Path) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [{"id": i, "name": sp.name, "op": sp.op, "parent": sp.parent,
                 "start_s": sp.start - t0, "end_s": sp.end - t0,
                 "self_s": self.self_time(i), **sp.attrs}
                for i, sp in enumerate(self.spans)]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": rows,
                                    "summary": self.summary()}, indent=1))
