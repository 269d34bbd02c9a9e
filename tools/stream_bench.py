"""Streaming CDC bench: rows/s through the full reference pipeline shape —
replay source -> decode/demux/envelope -> per-partition ordered publish
(DirQueue, fsync-confirmed) -> resolved-cursor mirror.

This is the workload the reference implements (src/main.rs:205-240: one
row-at-a-time sqlx cursor -> sequential confirmed publish); here it runs as
Spark micro-batches. The reference publishes no numbers (595 LoC, no bench
harness — see BASELINE.md); its structural ceiling is one in-flight message
per publish confirm, so micro-batched partition-parallel publishing wins on
shape. This tool records our side of that comparison.

Prints ONE JSON line: {"metric": "cdc_stream_rows_per_sec", ...}. Beside
the rows/s it carries the micro-batch phases: the median over the epochs
that read rows of each phase in the query's progress reports
(``phase_ms_median``), the number of those epochs, and the Spark jobs the
query ran per epoch. ``--batch-limit`` bounds every epoch in both modes:
it is the simple reader's ``batch_limit`` and the partitioned reader's
``epoch_rows``.

Usage: python tools/stream_bench.py [--rows 50000] [--batch-limit 10000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_feed(
    path: str, n: int, resolved_every: int = 1000, tables: tuple[str, ...] = ("orders",)
) -> int:
    """Synthesize a changefeed recording shaped like the reference's wire
    tuples (README.md:29-38): JSON-array PK key, {"after": {...}} value,
    periodic resolved rows. Returns the number of CHANGE rows.

    `tables` > 1 interleaves change rows across table names round-robin —
    the mixed multi-table feed the fan-out sink (pipeline.publish_batch
    table_col routing) demuxes to one destination per table. Row ids stay
    globally unique across tables, so pooled distinct-key accounting still
    equals the change-row count."""
    changes = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            if i % resolved_every == resolved_every - 1:
                f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0000000000,0"})]) + "\n")
            else:
                changes += 1
                f.write(
                    json.dumps(
                        [
                            tables[i % len(tables)],
                            f"[{i}]",
                            json.dumps({"after": {"o_orderkey": i, "o_totalprice": i * 1.5}}),
                        ]
                    )
                    + "\n"
                )
    return changes


PHASES = ("latestOffset", "addBatch", "walCommit", "commitOffsets")


def epoch_phases(spark, query) -> dict:
    """Per-phase medians, epoch count and jobs per epoch of a finished
    streaming query. Streaming jobs run under the query's runId as their
    job group."""
    from statistics import median

    epochs = [p for p in query.recentProgress if p.numInputRows > 0]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    return {
        "phase_ms_median": {
            name: median(p.durationMs.get(name, 0) for p in epochs) if epochs else None
            for name in PHASES
        },
        "epochs": len(epochs),
        "jobs_per_epoch": round(len(jobs) / len(epochs), 2) if epochs else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--batch-limit", type=int, default=10_000)
    ap.add_argument("--resolved-every", type=int, default=1_000)
    ap.add_argument(
        "--partitioned",
        action="store_true",
        help="use the executor-parallel partitioned reader instead of the "
        "driver-hop simple reader",
    )
    ap.add_argument("--read-partitions", type=int, default=0,
                    help="0 = reader auto (machine parallelism)")
    args = ap.parse_args()

    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    # keep every job in the status store, so jobs_per_epoch counts all of
    # them (Spark keeps the last 1000); must be set before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.retainedJobs=1000000 " + os.environ.get(
        "PYSPARK_SUBMIT_ARGS", "pyspark-shell"
    )
    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        feed = os.path.join(work, "feed.jsonl")
        n_changes = write_feed(feed, args.rows, args.resolved_every)

        spark = get_spark("stream-bench")
        # keep every epoch's progress report (Spark keeps the last 100)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        register(spark)
        reader = spark.readStream.format("crdb_changefeed").option("replay", feed)
        if not args.partitioned:
            # batch_limit selects the simple reader
            reader = reader.option("batch_limit", str(args.batch_limit))
        else:
            # the same row bound cuts the partitioned reader's epochs, so
            # both modes take their medians over several epochs
            reader = reader.option("epoch_rows", str(args.batch_limit))
            if args.read_partitions > 0:
                reader = reader.option("read_partitions", str(args.read_partitions))
        stream = reader.load()
        out_dir = os.path.join(work, "out")
        t0 = time.time()
        query = run_pipeline(stream, out_dir, os.path.join(work, "ckpt"), drain_all=True)
        wall = time.time() - t0

        published = len(DirQueue.read_all(out_dir))
        assert published == n_changes, (published, n_changes)
        print(
            json.dumps(
                {
                    "metric": "cdc_stream_rows_per_sec",
                    "value": round(args.rows / wall, 1),
                    "unit": "rows/sec",
                    "rows": args.rows,
                    "published": published,
                    "batch_limit": args.batch_limit,
                    "partitioned": args.partitioned,
                    "wall_sec": round(wall, 2),
                    **epoch_phases(spark, query),
                }
            )
        )
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
