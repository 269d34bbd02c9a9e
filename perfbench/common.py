"""Shared pieces of the benchmark: environment pinning, session set-up,
memory and machine-weather probes, and Spark status-store readers.

Nothing here records spans inside the package. Layer numbers come from
timing calls into the package's public functions and from what Spark
already reports (``StreamingQueryProgress.durationMs``, the status tracker,
the status store and SQL metrics).
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "4g"  # the package default (48g) exceeds a 15 GB box


def pin_environment(work: str) -> None:
    """Fix what the session factory reads from the environment, before any
    JVM starts, and keep every file the run writes under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    # executors re-import the package, so it must be on their path too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(app: str):
    """The session layer as a user starts it: ``get_spark`` plus the
    changefeed source registration. Returns (spark, seconds)."""
    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    t0 = time.perf_counter()
    spark = get_spark(app)
    register(spark)
    return spark, time.perf_counter() - t0


@dataclass
class Verdict:
    """Outcome of a run's correctness checks, in operations."""

    attempted: int
    failed: int
    detail: dict


def median(xs) -> float:
    return float(statistics.median(xs))


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int, exclude: set[int]) -> dict[int, float]:
    """RSS of ``root`` and each of its descendants, by pid: the driver, the
    JVM and the Python workers. Subtrees rooted at ``exclude`` (the load
    generator) are left out."""
    kids = _children()
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out[pid] = _rss_kb(pid) / 1024.0
        stack.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self.peak_split: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        rss = tree_rss_mb(os.getpid(), self.exclude)
        total = sum(rss.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_split = sorted(rss.values(), reverse=True)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


# --------------------------------------------------------------- weather


def weather() -> dict:
    """Steal and I/O-wait jiffies and the load average, read beside each run
    so a run taken in bad machine weather identifies itself."""
    from bench import read_steal_jiffies

    with open("/proc/stat") as f:
        iowait = int(f.readline().split()[5])
    return {"steal_jiffies": read_steal_jiffies(), "iowait_jiffies": iowait,
            "loadavg_1m": os.getloadavg()[0]}


# ----------------------------------------------------------- status store


def _seq(s) -> list:
    """A Scala Seq from the JVM as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Reads Spark's own bookkeeping for a set of jobs: the app status store
    (jobs, stages) and the SQL status store (operator metrics)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str) -> list:
        wanted = set(self.job_ids(group))
        return [j for j in _seq(self._store.jobsList(None)) if j.jobId() in wanted]

    def stages(self) -> dict[int, object]:
        """Every completed stage the store holds, by stage id."""
        jvm = self.sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        return {s.stageId(): s for s in _seq(stages) if str(s.status()) == "COMPLETE"}

    @staticmethod
    def job_counts(jobs: list, stages: dict[int, object]) -> dict:
        """Jobs, executed stages and executed tasks, plus executor run time
        and shuffle bytes summed over those stages."""
        ran = [stages[sid] for j in jobs for sid in _seq(j.stageIds()) if sid in stages]
        return {
            "jobs": len(jobs),
            "stages": sum(j.numCompletedStages() + j.numFailedStages() for j in jobs),
            "tasks": sum(j.numCompletedTasks() + j.numFailedTasks() for j in jobs),
            "executor_run_ms": sum(s.executorRunTime() for s in ran),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
        }

    def python_bytes(self, job_ids: set[int]) -> float:
        """Bytes sent to and returned from Python workers, from the SQL
        metrics of the executions that ran ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        for e in _seq(sql.executionsList()):
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                if (m.name() in ("data sent to Python workers", "data returned from Python workers")
                        and values.contains(m.accumulatorId())):
                    total += _parse_size(values.apply(m.accumulatorId()))
        return total


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9][0-9.,]*) ?(B|KiB|MiB|GiB|TiB)\b")


def _parse_size(text: str) -> float:
    """The total of a size metric as the SQL status store formats it: a
    bare value, or ``total (min, med, max ...)`` and the values below it."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


_BATCH_RE = re.compile(r"batch = (\d+)")


def batch_of(job) -> int | None:
    """The micro-batch id a streaming job ran for, from its description."""
    desc = _opt(job.description())
    m = _BATCH_RE.search(desc or "")
    return int(m.group(1)) if m else None


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and the Python workers under it have exited."""
    import signal

    from pyspark import SparkContext

    me = os.getpid()
    kids = _children()
    below, stack = set(), list(kids.get(me, ()))
    while stack:
        pid = stack.pop()
        below.add(pid)
        stack.extend(kids.get(pid, ()))
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        below = {p for p in below if os.path.exists(f"/proc/{p}")}
        if not below:
            return
        time.sleep(0.1)
    for pid in below:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
