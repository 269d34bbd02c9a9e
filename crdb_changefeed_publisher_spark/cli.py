"""CLI entry point — argument/env parity with the reference
(cli.yml:5-22, README.md:56-73):

  --table             watched table (required)
  --queue             queue type, default 'rabbitmq' (model.rs:6-16)
  --cursor-store      cursor store type, default 'cockroachdb' (model.rs:18-30)
  --cursor-frequency  resolved cadence, default '10s' (cli.yml:18-21)

  env: DATABASE_URL, AMQP_ADDR, AMQP_QUEUE, PROMETHEUS_ADDR (main.rs:57-69)

plus Spark-specific options (--replay for the recorded-feed mode, --out-dir
for the dir-queue sink, --checkpoint for the offset log).

Run: python -m crdb_changefeed_publisher_spark.cli --table foo --replay feed.jsonl \
         --queue dir --out-dir /tmp/out --checkpoint /tmp/ckpt
"""

from __future__ import annotations

import argparse
import os
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="crdb-changefeed-publisher-spark",
        description="Publish CockroachDB changefeed rows to a message queue (Spark edition).",
    )
    p.add_argument("--table", required=True, help="table to watch")
    p.add_argument("--queue", default="rabbitmq", choices=["rabbitmq", "dir"])
    p.add_argument(
        "--cursor-store", default="cockroachdb", choices=["cockroachdb", "file", "memory"]
    )
    p.add_argument("--cursor-frequency", default="10s")
    p.add_argument("--replay", default=None, help="JSONL recorded feed (test/bench mode)")
    p.add_argument("--out-dir", default=None, help="output dir for --queue dir")
    p.add_argument("--checkpoint", default=None, help="Spark checkpointLocation")
    p.add_argument("--cursor-path", default=None, help="path for --cursor-store file")
    p.add_argument("--once", action="store_true", help="process available data then exit")
    p.add_argument(
        "--read-partitions",
        type=int,
        default=None,
        help="line ranges per --replay micro-batch (default: the machine's "
        "parallelism)",
    )
    p.add_argument(
        "--epoch-rows",
        type=int,
        default=0,
        help="--replay admission cap: max feed lines per micro-batch "
        "(0 = all available; bounds the at-least-once replay window and "
        "per-epoch state cost)",
    )
    p.add_argument(
        "--idempotent",
        action="store_true",
        help="exactly-once-ish publish: batch-keyed truncating files for "
        "--queue dir, (x-batch-id, x-partition-id, x-seq) dedup headers "
        "for --queue rabbitmq — extension over the reference's "
        "at-least-once delivery",
    )
    p.add_argument(
        "--fan-out-tables",
        action="store_true",
        help="route each table's envelopes to its own destination "
        "(out_dir/<table>/ or '<AMQP_QUEUE>.<table>') — extension over the "
        "reference's one-table/one-queue design",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming.cursors import make_cursor_store
    from crdb_changefeed_publisher_spark.streaming.metrics import serve_metrics
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline

    if args.queue == "dir" and not args.out_dir:
        print("--queue dir requires --out-dir", file=sys.stderr)
        return 2
    if not args.replay and (args.epoch_rows or args.read_partitions is not None):
        print("--epoch-rows and --read-partitions require --replay", file=sys.stderr)
        return 2
    spark = get_spark(f"crdb-changefeed-{args.table}")
    register(spark)
    server = serve_metrics()  # PROMETHEUS_ADDR or 0.0.0.0:8001, main.rs:57

    reader = (
        spark.readStream.format("crdb_changefeed")
        .option("table", args.table)
        .option("cursor_frequency", args.cursor_frequency)
    )
    if args.replay:
        # a recorded feed is read by the executor-parallel partitioned reader
        reader = reader.option("replay", args.replay)
        if args.read_partitions is not None:
            reader = reader.option("read_partitions", str(args.read_partitions))
        if args.epoch_rows > 0:
            reader = reader.option("epoch_rows", str(args.epoch_rows))
    else:
        reader = reader.option("database_url", os.environ.get("DATABASE_URL", ""))

    store = make_cursor_store(
        args.cursor_store,
        path=args.cursor_path or f"/tmp/crdb-cursor-{args.table}.json",
        database_url=os.environ.get("DATABASE_URL"),
    ) if args.cursor_store != "cockroachdb" or os.environ.get("DATABASE_URL") else None

    freq = float(args.cursor_frequency.rstrip("s")) if args.cursor_frequency.endswith("s") else 10.0
    query = run_pipeline(
        reader.load(),
        out_dir=args.out_dir,
        checkpoint_dir=args.checkpoint or f"/tmp/crdb-changefeed-ckpt-{args.table}",
        cursor_store=store,
        trigger_seconds=None if args.once else freq,
        # the CLI always reads through the Python changefeed source, where
        # Trigger.AvailableNow degrades to one batch — drain explicitly
        drain_all=args.once,
        queue_kind=args.queue,
        amqp_addr=os.environ.get("AMQP_ADDR"),
        # "queue name is required" when publishing to RabbitMQ (main.rs:69)
        amqp_queue=os.environ["AMQP_QUEUE"] if args.queue == "rabbitmq" else None,
        fan_out_tables=args.fan_out_tables,
        idempotent=args.idempotent,
    )
    try:
        query.awaitTermination()
    finally:
        server.shutdown()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
