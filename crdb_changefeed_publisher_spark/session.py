"""SparkSession factory.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (default 32). The
config block is written for cluster scale, not just local mode:

- AQE on (runtime coalesce + skew-join handling) so a 1000-executor run
  re-plans shuffles from observed sizes instead of static guesses.
- ``spark.sql.shuffle.partitions`` sized from the core count locally; on a
  real cluster AQE's coalescePartitions makes the static number a ceiling,
  not a target.
- Arrow enabled so any Pandas-UDF path is batch-vectorized, never row-wise.
- UTC session timezone so timestamp semantics match the DuckDB oracle.

``session_pass`` builds a shared intermediate once per session,
``clear_passes`` releases it, and ``session_dir`` places session-long files.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# cgroup v2, then v1: a container's memory limit, when it is below the RAM
CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else half
    the memory this process may use (the physical RAM, or a lower cgroup
    limit) in whole GB, at least 2g and at most 48g. The driver holds each
    epoch it publishes itself, and a heap past that memory gets the JVM
    OOM-killed."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                ram = min(ram, int(f.read()))
        except (OSError, ValueError):  # no such file, or "max" (no limit)
            pass
    return f"{min(48, max(2, ram // 2**31))}g"


def get_spark(app_name: str = "crdb_changefeed_publisher_spark") -> SparkSession:
    """Build (or reuse) the session with scale-aware defaults."""
    # Arrow-batched UDFs allocate large transient numpy buffers (e.g. a
    # 10k-row batch against a k=1024 codebook materializes an 80 MB
    # distance matrix per batch). glibc mmap()s allocations past its
    # dynamic threshold, so every batch faults in ~20k fresh zero pages
    # and gives them back — measured at the eighth-decade drive as ~25
    # cores of pure kernel time across the 32 workers (56 s -> 1.5 s for
    # an identical 50-batch loop once the threshold forces arena reuse).
    # Must be in the environment BEFORE the JVM starts: python workers
    # inherit it through the executor launch.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanos and normalize in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # belt to the os.environ suspenders above: executorEnv reaches
        # python workers on a real cluster, where the driver's process
        # environment does not
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        # NOTE: do NOT set spark.cleaner.periodicGC.interval low — the
        # forced full GC on a large heap is a multi-second STW pause that
        # lands inside query timings (measured ~12s stalls at 1min interval)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PASSES: dict[tuple, Any] = {}


def session_pass(spark: SparkSession, name: str, key: Hashable, build: Callable[[], Any]) -> Any:
    """What ``build()`` returns, built on the first request per (session,
    name, key) and shared by every later one."""
    k = (spark.sparkContext.applicationId, name, key)
    if k not in _PASSES:
        _PASSES[k] = build()
    return _PASSES[k]


def clear_passes(name: str | None = None) -> None:
    """Forget the passes called ``name`` (every pass when None) and
    unpersist the DataFrames they held, also those inside a tuple."""
    for k in [k for k in _PASSES if name in (None, k[1])]:
        held = _PASSES.pop(k)
        for v in held if isinstance(held, tuple) else (held,):
            if isinstance(v, DataFrame):
                v.unpersist()


def session_dir(*parts: str) -> str:
    """A path under the session's scratch root, which Spark deletes when
    the session stops."""
    return os.path.join(SparkFiles.getRootDirectory(), *parts)
