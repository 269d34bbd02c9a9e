"""The streaming pipeline: readStream (changefeed-shaped rows) -> the shared
batch transform chain (operators/changefeed.py) -> ordered, confirmed
publish in foreachBatch + resolved-cursor mirroring.

Reference lifecycle parity (SURVEY.md §3.1):
- scan+filter pushed to the source      -> custom source / file replay
- per-row demux Row|Cursor              -> one select: a change row gets an
  (main.rs:211-235, read once)             envelope, a cursor row its
                                           resolved mark; one read per epoch
- sequential confirmed publish          -> per-partition sequential publish
  (main.rs:226-227)                        after repartition by key; the
                                           publish tasks skip cursor rows
                                           and hand their marks back
- cursor UPSERT at resolved marks       -> Spark commit log (authoritative)
  (cursors.rs:45-57)                       + optional CursorStore mirror of
                                           the last mark in feed order

Delivery semantics: at-least-once, exactly like the reference (§2.2 of
SURVEY.md): publishes happen during the batch; offsets commit after. A crash
between them replays the batch => duplicates, never loss.

Ordering: per-key order is preserved by repartitioning the batch on `key`
and publishing each partition sequentially (reference preserves global order
on one connection; Spark preserves it per key-partition, which is the
guarantee consumers can actually use — and the one that scales).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators.changefeed import changefeed_pipeline
from crdb_changefeed_publisher_spark.streaming.cursors import CursorStore
from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT
from crdb_changefeed_publisher_spark.streaming.queues import DirQueue, MessageQueue, make_queue


def publish_batch(
    batch: DataFrame,
    queue_kind: str = "dir",
    out_dir: str | None = None,
    amqp_addr: str | None = None,
    amqp_queue: str | None = None,
    table_col: str | None = None,
    batch_id: int | None = None,
) -> list[str]:
    """Publish one micro-batch with per-key ordering: repartition on key so
    all messages for a key land in one partition, then each partition opens
    its queue and publishes sequentially with confirm-on-write.

    `batch` carries `key`, `_seq` (feed order), `envelope` and `resolved`.
    A row with a non-null envelope is a change and is published; a row with
    a null envelope is a resolved-cursor row, which is not published (a
    partition holding only such rows opens no queue) and whose non-null
    `resolved` mark is handed back. Rows are sorted within each partition
    by (key, _seq) — a *provable* per-key order (the shuffle alone only
    preserves arrival order per upstream partition).

    `queue_kind` selects the sink per the QueueType registry: 'rabbitmq'
    (reference default, AMQP with publisher confirms) or 'dir' (fsync-confirm
    file queue). 'memory' is rejected here — an executor-side in-memory list
    is invisible to the driver, so silently accepting it would drop data.

    `batch_id` opts into the idempotent/exactly-once-ish layouts: DirQueue
    truncates its (batch, partition)-keyed file on a replay; RabbitMQQueue
    stamps (x-batch-id, x-partition-id, x-seq) dedup headers. The `_seq`
    sort makes the per-partition sequence deterministic across replays
    (Spark re-runs a failed batch under the same batch_id with the same
    content and partitioning).

    `table_col` switches on MULTI-TABLE FAN-OUT (a Spark upgrade over the
    reference's one-table/one-queue design, src/cli.yml:6-9): each table's
    envelopes route to their own destination — ``out_dir/<table>/`` for the
    dir queue, queue ``"<amqp_queue>.<table>"`` for AMQP. The shuffle key
    becomes (table, key), preserving per-key order within each table; a
    partition opens one queue per table it sees.

    Returns the resolved marks in `_seq` (feed) order."""
    if queue_kind == "dir" and out_dir is None:
        raise ValueError("queue_kind='dir' requires out_dir")
    if queue_kind not in ("dir", "rabbitmq"):
        raise ValueError(
            f"queue_kind {queue_kind!r} is not publishable from executors; use 'dir' or 'rabbitmq'"
        )

    def publish_partition(pdfs):
        # Arrow path: each partition arrives as pandas batches (no per-row
        # JVM->Python pickling); messages bulk-write per batch via
        # publish_many, order preserved (mapInPandas iterates a partition's
        # batches in order, rows in order within each).
        from pyspark import TaskContext

        import pandas as pd

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0

        def open_queue(table: str | None):
            return make_queue(
                queue_kind,
                path=os.path.join(out_dir, table) if (table and out_dir) else out_dir,
                partition_id=pid,
                amqp_addr=amqp_addr,
                queue=f"{amqp_queue or 'rabbitmq'}.{table}"
                if table
                else (amqp_queue or "rabbitmq"),
                batch_id=batch_id,
            )

        queues: dict[str | None, MessageQueue] = {}
        n = 0
        seqs: list[int] = []
        marks: list[str] = []
        for pdf in pdfs:
            is_change = pdf["envelope"].notna()
            if not is_change.all():
                cursors = pdf[~is_change & pdf["resolved"].notna()]
                seqs.extend(cursors["_seq"].tolist())
                marks.extend(cursors["resolved"].tolist())
                pdf = pdf[is_change]
            if pdf.empty:
                continue
            if table_col:
                groups = pdf.groupby(table_col, sort=False)
            else:
                groups = [(None, pdf)]
            for t, grp in groups:
                q = queues.get(t)
                if q is None:
                    q = queues[t] = open_queue(t)
                q.publish_many([s.encode() for s in grp["envelope"]])
                n += len(grp)
        for q in queues.values():
            q.close()
        # one row carries the count; one row per resolved mark after it
        yield pd.DataFrame(
            {
                "n": [n] + [0] * len(marks),
                "seq": pd.array([None] + seqs, dtype="Int64"),
                "resolved": [None] + marks,
            }
        )

    cols = ["key", "envelope", "_seq", "resolved"]
    if table_col:
        cols.append(table_col)
        shuffled = batch.repartition(F.col(table_col), F.col("key")).select(*cols)
        sort_cols = [table_col, "key", "_seq"]
    else:
        shuffled = batch.repartition(F.col("key")).select(*cols)
        sort_cols = ["key", "_seq"]
    shuffled = shuffled.sortWithinPartitions(*sort_cols)
    rows = shuffled.mapInPandas(publish_partition, "n long, seq long, resolved string").collect()
    MESSAGES_SENT.inc(sum(r.n for r in rows))
    marks = sorted((r for r in rows if r.resolved is not None), key=lambda r: r.seq)
    return [r.resolved for r in marks]


def make_foreach_batch(
    out_dir: str | None,
    cursor_store: CursorStore | None = None,
    on_batch: Callable[[int, int, list[str]], None] | None = None,
    queue_kind: str = "dir",
    amqp_addr: str | None = None,
    amqp_queue: str | None = None,
    fan_out_tables: bool = False,
    idempotent: bool = False,
    on_batch_timing: Callable[[int, float, float], None] | None = None,
):
    """foreachBatch function: one pass over the micro-batch. A single select
    over the decoded batch gives each change row its envelope (with key for
    ordering) and each resolved-cursor row its mark; the publish job sends
    the envelopes to the selected queue and hands the marks back, so the
    mirrored cursor comes from the same read as the published rows.

    The cursor store mirrors the *last* resolved timestamp in feed order
    (reference main.rs:229-235 persists each resolved mark as it arrives;
    persisting the batch's last one in feed order reaches the same end
    state — note HLC strings must NOT be compared lexicographically:
    '9.x' > '10.x' as strings). `on_batch` gets every mark of the batch in
    feed order."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        _body_start = _time.time()
        from crdb_changefeed_publisher_spark.operators.changefeed import (
            decode_changefeed,
            envelope_col,
            is_cursor_row,
        )

        # _seq stamps the batch's arrival order (monotonic within each input
        # partition — exact feed order for single-partition sources like the
        # changefeed reader) so the publish can sort per key and order the
        # resolved marks. A cursor row gets a null envelope (a malformed
        # change row still raises in envelope_col).
        decoded = decode_changefeed(batch_df).withColumn(
            "_seq", F.monotonically_increasing_id()
        )
        cursor = is_cursor_row()
        cols = [
            "key",
            "_seq",
            F.when(~cursor, envelope_col()).alias("envelope"),
            F.when(cursor, F.get_json_object(F.col("value"), "$.resolved")).alias("resolved"),
        ] + (["table"] if fan_out_tables else [])
        resolved = publish_batch(
            decoded.select(*cols),
            queue_kind=queue_kind,
            out_dir=out_dir,
            amqp_addr=amqp_addr,
            amqp_queue=amqp_queue,
            table_col="table" if fan_out_tables else None,
            batch_id=batch_id if idempotent else None,
        )
        if resolved and cursor_store is not None:
            cursor_store.set(resolved[-1])
        if on_batch_timing is not None:
            # (batch_id, body_start, body_end): the gap between one batch's
            # body_end and the next's body_start is the per-epoch overhead
            # OUTSIDE the work — source offset planning, epoch commit,
            # scheduling — the quantity the soak reports a p95 for
            on_batch_timing(batch_id, _body_start, _time.time())
        if on_batch is not None:
            n = MESSAGES_SENT.value
            on_batch(batch_id, n, resolved)

    return run


def run_pipeline(
    stream_df: DataFrame,
    out_dir: str | None,
    checkpoint_dir: str,
    cursor_store: CursorStore | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
    drain_all: bool = False,
    queue_kind: str = "dir",
    amqp_addr: str | None = None,
    amqp_queue: str | None = None,
    fan_out_tables: bool = False,
    idempotent: bool = False,
    on_batch: Callable[[int, int, list[str]], None] | None = None,
    on_batch_timing: Callable[[int, float, float], None] | None = None,
):
    """Wire a changefeed-shaped streaming DataFrame to the publish sink.

    trigger_seconds is the cursor-frequency analog (reference default 10s,
    cli.yml:18-21): micro-batch cadence == resolved/commit cadence.

    `available_now` uses Spark's Trigger.AvailableNow — correct for file
    sources, but a Python SimpleDataSourceStreamReader silently degrades to
    ONE micro-batch under it (probed on pyspark 4.1: 17/105 rows drained).
    For the custom changefeed source use `drain_all=True` instead: run real
    micro-batches, block until every row available at (and during) the run
    is processed (`processAllAvailable`), then stop — the `--once` drain
    semantics, with the final resolved cursor mirrored as usual.

    `on_batch(batch_id, messages_sent_total, resolved_list)` runs at the
    END of each foreachBatch (after the publish, before Spark commits the
    epoch) — used by tests and the soak harness for progress accounting
    and crash injection: raising inside it fails the query with that epoch
    uncommitted, so a restart replays exactly that batch (the at-least-once
    window the reference also has between publish and cursor persist).
    """
    writer = stream_df.writeStream.foreachBatch(
        make_foreach_batch(
            out_dir,
            cursor_store,
            on_batch=on_batch,
            queue_kind=queue_kind,
            amqp_addr=amqp_addr,
            amqp_queue=amqp_queue,
            fan_out_tables=fan_out_tables,
            idempotent=idempotent,
            on_batch_timing=on_batch_timing,
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now and not drain_all:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    query = writer.start()
    if drain_all:
        query.processAllAvailable()
        query.stop()
        query.awaitTermination(60)
    return query


def streaming_envelopes(stream_df: DataFrame) -> DataFrame:
    """Pure-transform streaming view (for memory-sink tests): envelopes only."""
    envelopes, _ = changefeed_pipeline(stream_df)
    return envelopes
