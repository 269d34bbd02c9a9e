"""Fixture table loading.

The driver materializes TPC-H-ish parquet under /root/testdata/sf*/ (see
TESTDATA.md). Loading goes through ``spark.read.parquet`` so Catalyst gets
full predicate pushdown + column pruning into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# name -> saved-table identifier. When set (the scale tests), load_table
# serves the bucketed catalog table instead of the plain parquet path, so
# the SAME registered query plans run against bucketed storage —
# co-located, exchange-free fact-fact joins — without forking the query
# definitions.
_BUCKETED_OVERRIDES: dict[str, str] = {}


def set_bucketed_overrides(mapping: dict[str, str] | None) -> None:
    _BUCKETED_OVERRIDES.clear()
    if mapping:
        _BUCKETED_OVERRIDES.update(mapping)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame (driver-side only, no job):
    for a parquet scan projection this is file bytes scaled by the
    projected columns' width fraction — the same estimate the planner
    uses for broadcast decisions. None when the estimate is unavailable."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 — estimate only; callers fall back
        return None


# Floor on estimated input bytes per fanned task. 32 KiB of compressed text
# per task keeps the per-task work large relative to task dispatch + (for
# Arrow consumers) Python-worker spinup: the r13 unconditional 32-way fan
# regressed the light-shingle family on the driver's cold 32-core bench
# (doc_dsir_sample 1.25 -> 2.70 s, 2x SLOWER at 32 cores than at 8 —
# r13 verdict #1) because 500 docs / ~250 KB fanned to 32 Arrow tasks pays
# 32 worker spinups for ~8 KB of work each. Tunable per deployment; the
# default is measured at the bench tier (docs/RESULTS.md r14) and only
# matters for scans smaller than cores * floor — production-width scans
# never reach the repartition at all.
_FAN_OUT_BYTES_PER_TASK_ENV = "SPARK_GRAFT_FANOUT_BYTES_PER_TASK"
_FAN_OUT_BYTES_PER_TASK_DEFAULT = 32 * 1024


def fan_out_scan(df: DataFrame, *key_cols: str, always: bool = False) -> DataFrame:
    """Scale-adaptive scan fan-out for CPU-heavy narrow pipelines.

    The fixture tables are single-row-group parquet files, so their scans
    plan as ONE task no matter the core count — and every narrow operator
    chained onto the scan (explode, regexp normalize, hash, Arrow UDF)
    inherits that single task and runs one-core until the first exchange
    (measured: PassJoin's probe explode spent 1.7 s single-threaded on
    local[32]; 0.9 s after a 32-way fan-out, guide §2 "partitioning must
    derive from the environment, not the file layout").

    Hash-repartitions on ``key_cols`` — but ONLY when the input has fewer
    partitions than the session's defaultParallelism, so a production-
    scale scan (thousands of row groups, partitions >> cores) is left
    untouched and pays no extra exchange. Keyed repartition keeps the
    placement deterministic under task retry (guide §2.5: never
    round-robin rows whose upstream is non-deterministic).

    The width is DATA-ADAPTIVE, not the core count alone (guide §2.5:
    partition for the work, r13 verdict #1): Catalyst's size estimate of
    the input, floored at $SPARK_GRAFT_FANOUT_BYTES_PER_TASK (default
    32 KiB) per task, capped at defaultParallelism. A tiny frame fans to
    the handful of tasks its bytes justify instead of paying core-count
    tasks' dispatch + Python-worker spinup; when the estimate is
    unavailable the width falls back to defaultParallelism. If the
    justified width does not exceed the input's existing width, the
    repartition is skipped entirely.

    Use where the exchange is cheap relative to the per-row work it
    parallelizes: the scan side of gram/segment explodes, signature UDFs,
    normalize passes. Do NOT bolt onto scan-dominated aggregates — the
    added exchange is pure cost there.

    ``always=True`` is for operators whose downstream grouping/window on
    ``key_cols`` NEEDS a hashpartitioning(key_cols) exchange anyway (the
    subset rule then makes every later keyed operator exchange-free): the
    repartition is emitted unconditionally — moved to the scan side of
    the heavy narrow work instead of after it — and the partition count
    never DROPS below the input's (max(defaultParallelism, input)), so a
    production-scale scan keeps its width. The explicit count also keeps
    AQE from coalescing the exchange to one task when the fixture corpus
    is small — the per-row work downstream is exactly what must not run
    single-threaded. (Width stays at defaultParallelism here, not the
    byte-derived count: the exchange exists regardless, so extra width
    costs nothing new, and the always sites' downstream work is the
    measured-heavy kind — r13 contamination 2.14 -> 0.76 s.)
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    n_in = df.rdd.getNumPartitions()
    if not always and n_in >= n:
        return df
    if always:
        return df.repartition(max(n, n_in), *[F.col(c) for c in key_cols])
    width = n
    est = _plan_size_bytes(df)
    if est is not None and est >= 0:
        try:
            floor = int(
                os.environ.get(_FAN_OUT_BYTES_PER_TASK_ENV, _FAN_OUT_BYTES_PER_TASK_DEFAULT)
            )
        except ValueError:  # a typo must not break every caller
            floor = _FAN_OUT_BYTES_PER_TASK_DEFAULT
        if floor > 0:
            width = min(n, max(1, est // floor))
    if width <= n_in:
        return df
    return df.repartition(width, *[F.col(c) for c in key_cols])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in _BUCKETED_OVERRIDES:
        return spark.table(_BUCKETED_OVERRIDES[name])
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Normalize ts to a session-tz (UTC) TIMESTAMP no matter how the
        # fixture encodes it. Generations have varied: TIMESTAMP(NANOS)
        # (read as raw int64 via nanosAsLong, see session.py) and plain
        # timestamp[us] without tz (read as TIMESTAMP_NTZ). Downstream
        # epoch arithmetic (`cast("double")`) is only legal on TIMESTAMP,
        # and the DuckDB oracle treats the naive value as UTC, so both
        # variants funnel into the same LTZ type here.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Floor-division matches DuckDB's ns->us truncation.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


SUPPORTED_FORMATS = ("parquet", "orc", "csv", "json")


def load_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema=None,
) -> DataFrame:
    """Format-agnostic batch scan: the same logical table from parquet,
    ORC, CSV, or JSON-lines — so every query in the registry is
    format-independent (tests/test_source_formats.py round-trips tables
    through all four and asserts value equality).

    Self-describing formats (parquet, ORC) carry their own schema and
    types; text formats REQUIRE an explicit ``schema``. That is a scale
    rule, not a convenience: ``inferSchema`` is a second full pass over
    the data (at 100 TB, a second 100 TB scan), and CSV/JSON type
    guessing is lossy (int vs long, timestamp parsing). Readers that
    need streaming get the same dispatch via ``spark.readStream`` with
    an explicit schema — Structured Streaming refuses inference anyway.

    CSV is written/read with header, explicit '"' escaping, and
    multiLine so embedded quotes/newlines in text columns round-trip;
    JSON uses Spark's default ISO-8601 timestamp rendering. Column
    pruning and (parquet/ORC) predicate pushdown work through every
    branch — the dispatch adds nothing between the scan and Catalyst."""
    fmt = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if fmt == "jsonl":
        fmt = "json"
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if schema is None:
        raise ValueError(
            f"{fmt} requires an explicit schema: inference would be a second "
            "full pass over the data and guesses types lossily"
        )
    if fmt == "csv":
        return (
            spark.read.schema(schema)
            .option("header", "true")
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(path)
        )
    return spark.read.schema(schema).json(path)


def write_any(df: DataFrame, path: str, fmt: str) -> None:
    """Write a table in the given format with options symmetric to
    load_any (CSV header + '"' escaping), used by the format round-trip
    tests and any export path."""
    fmt = fmt.lower()
    if fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "orc":
        df.write.mode("overwrite").orc(path)
    elif fmt == "csv":
        (
            df.write.mode("overwrite")
            .option("header", "true")
            .option("escape", '"')
            # the WRITER defaults these to true and silently trims
            # leading/trailing whitespace out of string values — caught by
            # the round-trip test; a faithful export must not edit data
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(path)
        )
    elif fmt == "json":
        df.write.mode("overwrite").json(path)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str, buckets: int = 8) -> dict[str, str]:
    """Write lineitem/orders as catalog tables bucketed+sorted on the order
    key (idempotent), returning the overrides mapping for
    set_bucketed_overrides. Bucketing is the write-once amortization of the
    fact-fact join shuffle: with both sides bucketed on the join key, the
    registered q3/q5 plans run exchange-free (plan-asserted in
    tests/test_scale_mechanics.py). Bucket count must scale with volume —
    target >= 100 MB per bucket file; 8 beats 32 at sf0.1 (docs/RESULTS.md).

    Table names encode the scale factor: a leftover sf0.01 table must never
    silently serve an sf0.1 run. A fresh session's in-memory catalog does
    not know about a previous run's warehouse directory, so a stale
    location is removed before the (re)write — but ONLY under an in-memory
    catalog, where an on-disk path the catalog doesn't list is by
    definition an orphan. With a persistent metastore (or a warehouse
    shared by concurrent sessions) "not in this session's listTables" does
    not mean unowned, so the path is left alone and DROP TABLE IF EXISTS +
    mode("overwrite") do the replacement through the catalog."""
    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    existing = {t.name for t in spark.catalog.listTables()}
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    in_memory_catalog = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "in-memory"
    )
    out = {}
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        table = f"{name}_bkt{buckets}_{sf_tag}"
        out[name] = table
        if table in existing:
            continue
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        loc = os.path.join(warehouse, table)
        if in_memory_catalog and os.path.exists(loc):
            shutil.rmtree(loc)  # orphaned location from a previous session
        load_table(spark, sf_dir, name).write.bucketBy(buckets, key).sortBy(key).mode(
            "overwrite"
        ).saveAsTable(table)
    return out
