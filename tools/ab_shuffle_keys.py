#!/usr/bin/env python
"""A/B: content-addressed sha2-256 group-by keys vs raw-text group-by keys.

Round-5 verdict asked for a measured justification of the content-addressed
shuffle keys in exact/normalized dedup (operators/dedup.py:83,101): wall time
AND shuffle bytes written, at sf0.1 and at a 10x-replicated corpus.  This tool
runs both variants in one session with the Spark UI enabled and pulls
per-job shuffle-write bytes from the REST API (job-group -> stages), printing
one JSON line per (variant, scale) cell.

Usage: python tools/ab_shuffle_keys.py [--repl 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UI_PORT = 4049


def get_spark_with_ui() -> SparkSession:
    from crdb_changefeed_publisher_spark.session import cpu_count, driver_memory

    cpus = cpu_count()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ab_shuffle_keys")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )


def _rest(path: str):
    with urllib.request.urlopen(f"http://localhost:{UI_PORT}/api/v1/{path}") as r:
        return json.load(r)


def shuffle_bytes_for_group(app_id: str, group: str) -> int:
    """Sum shuffle-write bytes over every stage of every job in `group`."""
    jobs = _rest(f"applications/{app_id}/jobs")
    stage_ids = set()
    for j in jobs:
        if j.get("jobGroup") == group:
            stage_ids.update(j.get("stageIds", []))
    total = 0
    for sid in stage_ids:
        try:
            for attempt in _rest(f"applications/{app_id}/stages/{sid}"):
                total += attempt.get("shuffleWriteBytes", 0)
        except Exception:  # noqa: BLE001 — skipped/missing stages
            pass
    return total


def dedup_raw_key(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The pre-round-5 variant: group directly on the text (the full document
    travels through the shuffle)."""
    return (
        docs.groupBy(F.col(text_col).alias("_k"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def dedup_sha2_key(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """sha2 as 64 hex chars — inlined (NOT delegated to dedup.exact_duplicates,
    which now groups on the raw binary digest itself; delegating would make
    this cell measure the same plan as dedup_sha2_binary_key and the A/B
    would stop reproducing the hex-vs-binary comparison in docs/SCALE.md —
    ADVICE r6)."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("_k"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def dedup_sha2_binary_key(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """sha2 as 32 raw bytes instead of 64 hex chars — hex is incompressible
    to lz4, so the binary form halves the key's wire cost."""
    return (
        docs.groupBy(F.unhex(F.sha2(F.col(text_col), 256)).alias("_k"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repl", type=int, default=10, help="replication factor for the big cell")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark_with_ui()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    # 10x cell: replicate with distinct ids AND distinct text (a replica
    # suffix) — the 100 TB case is mostly-UNIQUE text, where map-side combine
    # cannot collapse rows and the group-by key itself is the shuffle payload.
    # Repartition so replicas don't sit in their source row's partition.
    n = docs.count()
    big = (
        docs.crossJoin(spark.range(args.repl).withColumnRenamed("id", "_r"))
        .select(
            (F.col("doc_id") + F.col("_r") * F.lit(n * 10)).alias("doc_id"),
            F.concat("text", F.lit(" #"), F.col("_r")).alias("text"),
        )
        .repartition(32)
    )

    def mat(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    mat(docs)  # warm

    results = []
    for scale, frame in (("sf0.1", docs), (f"sf0.1x{args.repl}", big)):
        for variant, fn in (
            ("raw_text_key", dedup_raw_key),
            ("sha2_hex_key", dedup_sha2_key),
            ("sha2_binary_key", dedup_sha2_binary_key),
        ):
            times = []
            group = f"{variant}@{scale}"
            spark.sparkContext.setJobGroup(group, group)
            for _ in range(args.runs):
                t0 = time.time()
                mat(fn(frame))
                times.append(time.time() - t0)
            spark.sparkContext.setJobGroup("idle", "idle")
            sb = shuffle_bytes_for_group(app_id, group) // args.runs
            row = {
                "variant": variant,
                "scale": scale,
                "wall_sec_min": round(min(times), 3),
                "shuffle_bytes_per_run": sb,
            }
            results.append(row)
            print(json.dumps(row), flush=True)

    print(json.dumps({"summary": results}, separators=(",", ":")))


if __name__ == "__main__":
    main()
