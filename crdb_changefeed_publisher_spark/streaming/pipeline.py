"""The streaming pipeline: readStream (changefeed-shaped rows) -> the shared
batch transform chain (operators/changefeed.py) -> ordered, confirmed
publish in foreachBatch + resolved-cursor mirroring.

Reference lifecycle parity (SURVEY.md §3.1):
- scan+filter pushed to the source      -> custom source / file replay
- per-row demux Row|Cursor              -> one select: a change row gets an
  (main.rs:211-235, read once)             envelope, a cursor row its
                                           resolved mark; one read per epoch
- sequential confirmed publish          -> a dir-queue epoch that is one
  (main.rs:211-227)                        simple-reader partition, or feed
                                           ranges whose planned collect
                                           fits the driver's result cap:
                                           the driver publishes it serially
                                           in feed order as partition 0;
                                           otherwise each task publishes its
                                           key partition in order. Both skip
                                           cursor rows, return their marks
- cursor UPSERT at resolved marks       -> Spark commit log (authoritative)
  (cursors.rs:45-57)                       + optional CursorStore mirror of
                                           the last mark in feed order

Delivery semantics: at-least-once, exactly like the reference (§2.2 of
SURVEY.md): publishes happen during the batch; offsets commit after. A crash
between them replays the batch => duplicates, never loss.

Ordering: a driver-published epoch keeps the reference's global feed order
on one connection: `toArrow()` returns batches in partition order, and feed
ranges are planned in feed order. A task-published epoch keeps per-key order
by repartitioning on `key` and publishing each partition sequentially, the
guarantee consumers can actually use, and the one that scales.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
    FeedRangePartition,
    planned_feed_ranges,
)
from crdb_changefeed_publisher_spark.streaming.cursors import CursorStore
from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT
from crdb_changefeed_publisher_spark.streaming.queues import MessageQueue, make_queue


def publish_arrow(
    batches: Iterable[pa.RecordBatch], open_queue: Callable[[str | None, int], MessageQueue],
    pid: int, table_col: str | None,
) -> tuple[int, list[tuple[int, str]]]:
    """Publish Arrow batches in arrival order as partition `pid`. A change
    row (non-null envelope) goes to ``open_queue(table, pid)`` through
    `publish_many`, grouped per table in order; a cursor row is skipped and
    its non-null mark returned. Closes every queue it opened (a publish
    error outranks a close error); returns (published, [(seq, mark)])."""
    queues: dict[str | None, MessageQueue] = {}
    n = 0
    marks: list[tuple[int, str]] = []
    try:
        for b in batches:
            change = pc.is_valid(b["envelope"])
            if not pc.all(change).as_py():
                cursors = b.filter(pc.and_(pc.invert(change), pc.is_valid(b["resolved"])))
                marks.extend(zip(cursors["_seq"].to_pylist(), cursors["resolved"].to_pylist()))
                b = b.filter(change)
            if not b.num_rows:
                continue
            if table_col:
                tables = b[table_col]
                groups = [(t, b.filter(pc.equal(tables, t))) for t in pc.unique(tables).to_pylist()]
            else:
                groups = [(None, b)]
            for t, grp in groups:
                q = queues.get(t)
                if q is None:
                    q = queues[t] = open_queue(t, pid)
                q.publish_many(grp["envelope"].to_pylist())
                n += grp.num_rows
    finally:
        errors = []
        for q in queues.values():
            try:
                q.close()
            except Exception as e:
                errors.append(e)
        if errors and sys.exc_info()[0] is None:
            raise errors[0]
    return n, marks


def collect_bound(ranges: list[FeedRangePartition]) -> int:
    """Bytes that collecting a range epoch's publish input can reach, from
    its plan: twice a feed line covers the row's table and key (in their
    columns and in the envelope) and its value; 32 B a line covers the
    envelope text, Arrow offsets, `_seq` and validity bits (at most 32.6 B
    less the value's length, and a value is at least `{}`); 16 KiB a range
    covers each task result's Arrow schema and metrics (about 3 KB
    measured). docs/RESULTS.md "What a range epoch's collect weighs"."""
    return sum(2 * (r.end_byte - r.start_byte) + 32 * (r.end_line - r.start_line) + (16 << 10)
               for r in ranges)


def publish_batch(
    batch: DataFrame,
    queue_kind: str = "dir",
    out_dir: str | None = None,
    amqp_addr: str | None = None,
    amqp_queue: str | None = None,
    table_col: str | None = None,
    batch_id: int | None = None,
) -> list[str]:
    """Publish one micro-batch with per-key ordering, placed by what its
    plan proves about its size before any job starts:

    - a dir-queue epoch that is one partition but not a partitioned-reader
      range (every simple-reader epoch, at most `batch_limit` rows), or
      ranges of any width whose `collect_bound` is at most
      `spark.driver.maxResultSize`: the driver collects it as Arrow in one
      job, with no exchange or Python worker, and publishes it in feed order
      as partition 0, like the reference's one connection; a publish error
      fails the epoch, with no task retry;
    - otherwise (larger ranges, ranges under a cap of 0, which bounds
      nothing, other multi-partition input, or AMQP, whose per-message
      confirms gain from parallel connections): repartition on key, sort
      each partition by (key, _seq) for a *provable* per-key order (a
      shuffle keeps arrival order only per upstream partition), and publish
      it from its task through `mapInArrow`; only counts and marks reach
      the driver.

    `batch` carries `key`, `_seq` (feed order), `envelope` and `resolved`.
    A row with a non-null envelope is a change and is published; a row with
    a null envelope is a resolved-cursor row, which is not published (a
    partition holding only such rows opens no queue) and whose non-null
    `resolved` mark is handed back. Each queue is closed (confirmed) before
    this returns.

    `queue_kind` selects the sink per the QueueType registry: 'rabbitmq'
    (reference default, AMQP with publisher confirms) or 'dir' (fsync-confirm
    file queue).

    `batch_id` opts into the idempotent/exactly-once-ish layouts: DirQueue
    truncates its (batch, partition)-keyed file on a replay; RabbitMQQueue
    stamps (x-batch-id, x-partition-id, x-seq) dedup headers. Feed order on
    the driver and the `_seq` sort in the tasks make the per-partition
    sequence deterministic across replays (Spark re-runs a failed batch
    under the same batch_id with the same content and partitioning). The
    placement reads the plan and the session's result cap: a replay under
    a changed cap (or code) may place differently, which keeps
    at-least-once delivery but not this layout, since it rewrites only its
    own partition files; drain or clear an in-flight idempotent batch
    before changing either.

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
        raise ValueError(f"unknown queue type: {queue_kind!r}; use 'dir' or 'rabbitmq'")

    def open_queue(table: str | None, pid: int) -> MessageQueue:
        return make_queue(
            queue_kind,
            path=os.path.join(out_dir, table) if (table and out_dir) else out_dir,
            partition_id=pid,
            amqp_addr=amqp_addr,
            queue=f"{amqp_queue or 'rabbitmq'}.{table}" if table else (amqp_queue or "rabbitmq"),
            batch_id=batch_id,
        )

    keys = [table_col, "key"] if table_col else ["key"]
    selected = batch.select(*keys, F.col("envelope").cast("binary"), "_seq", "resolved")

    def fits_driver() -> bool:  # planning only: no job runs, and toArrow reuses the plan
        ranges = planned_feed_ranges(selected)
        if ranges is None:
            return selected._jdf.queryExecution().toRdd().getNumPartitions() == 1
        cap = selected.sparkSession.sparkContext._jsc.sc().conf().getSizeAsBytes(
            "spark.driver.maxResultSize", "1g")
        return 0 < cap and collect_bound(ranges) <= cap

    if queue_kind == "dir" and fits_driver():
        n, marks = publish_arrow(selected.toArrow().to_batches(), open_queue, 0, table_col)
    else:
        def publish_partition(batches):
            from pyspark import TaskContext

            n, marks = publish_arrow(batches, open_queue, TaskContext.get().partitionId(), table_col)
            # one row carries the count; one row per resolved mark after it
            yield pa.RecordBatch.from_pydict(
                {"n": [n] + [0] * len(marks), "seq": [None] + [s for s, _ in marks],
                 "resolved": [None] + [m for _, m in marks]},
                schema=pa.schema([("n", pa.int64()), ("seq", pa.int64()), ("resolved", pa.string())]),
            )

        shuffled = selected.repartition(*keys).sortWithinPartitions(*keys, "_seq")
        rows = shuffled.mapInArrow(publish_partition, "n long, seq long, resolved string").collect()
        n = sum(r.n for r in rows)
        marks = [(r.seq, r.resolved) for r in rows if r.resolved is not None]
    MESSAGES_SENT.inc(n)
    return [m for _, m in sorted(marks)]


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

    `drain_all=True` runs real micro-batches, blocks until every row
    available at (and during) the run is processed (`processAllAvailable`),
    then stops — the `--once` drain semantics, with the final resolved
    cursor mirrored as usual. (Trigger.AvailableNow is not offered: a
    Python SimpleDataSourceStreamReader silently degrades to ONE
    micro-batch under it; probed on pyspark 4.1: 17/105 rows drained.)

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
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    query = writer.start()
    if drain_all:
        query.processAllAvailable()
        query.stop()
        query.awaitTermination(60)
    return query

