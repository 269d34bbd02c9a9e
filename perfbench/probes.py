"""Direct calls into single layers, for the traced run: the changefeed
readers, the dir queue and the ``epoch_rows`` admission cap."""

from __future__ import annotations

import os
import shutil
import time

from common import median
from feeds import FeedShape, make_feed


def partitioned_reader(work: str, chunk_paths: list[str]) -> dict:
    """Per-epoch planning on a growing feed, then one epoch's read.

    After each chunk is appended, time ``latestOffset()`` plus
    ``partitions()`` over the new range (what the engine calls to plan an
    epoch); then read every partition of the last range in this process
    (what the executors do) for rows per second."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        ChangefeedPartitionedStreamReader,
    )

    path = os.path.join(work, "probe-feed.jsonl")
    open(path, "wb").close()
    reader = ChangefeedPartitionedStreamReader({"replay": path})
    start = reader.initialOffset()
    plan_ms, parts = [], []
    for chunk in chunk_paths:
        with open(path, "ab") as dst, open(chunk, "rb") as src:
            shutil.copyfileobj(src, dst)
        t0 = time.perf_counter()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        plan_ms.append((time.perf_counter() - t0) * 1000)
        start = end
    t0 = time.perf_counter()
    rows = sum(1 for p in parts for _ in reader.read(p))
    read_s = time.perf_counter() - t0
    return {"sources.plan_ms": median(plan_ms), "sources.read_rows_per_s": rows / read_s}


def simple_fetch(work: str, seed: int, batch_limit: int, fetches: int = 5) -> dict:
    """Sequential ``JsonlReplayConnection.fetch`` calls of ``batch_limit``
    rows, as the simple reader makes them on the driver."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import JsonlReplayConnection

    path = os.path.join(work, "probe-fetch.jsonl")
    make_feed(seed, batch_limit * fetches).write(path)
    conn = JsonlReplayConnection(path)
    ms, pos = [], 0
    for _ in range(fetches):
        t0 = time.perf_counter()
        rows = conn.fetch(pos, None, batch_limit)
        ms.append((time.perf_counter() - t0) * 1000)
        pos += len(rows)
    return {"sources.fetch_ms": median(ms)}


def dir_queue(work: str, seed: int, messages: int = 100_000, batch: int = 10_000,
              reps: int = 3) -> dict:
    """``DirQueue.publish_many`` in Arrow-batch-sized calls plus the
    group-commit ``close``, per message."""
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    envelopes = make_feed(seed, messages, FeedShape(resolved_every=messages + 1)).envelopes()
    us = []
    for r in range(reps):
        t0 = time.perf_counter()
        q = DirQueue(os.path.join(work, f"probe-queue-{r}"), partition_id=0)
        for i in range(0, len(envelopes), batch):
            q.publish_many(envelopes[i:i + batch])
        q.close()
        us.append((time.perf_counter() - t0) * 1e6 / len(envelopes))
    return {"queues.publish_us_per_msg": median(us)}


def epoch_rows_admission(spark, work: str, seed: int, lines: int, cap: int) -> dict:
    """A clean-start drain of ``lines`` rows with ``epoch_rows=cap``.

    With working admission it would run ``ceil(lines / cap)`` epochs. Spark
    calls ``latestOffset`` before ``initialOffset`` on a clean start, so the
    cap is not armed yet and the drain runs as one epoch. The count is
    reported, not relied on: the CDC workloads form epochs by delivery."""
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline

    w = os.path.join(work, "probe-epoch-rows")
    os.makedirs(w)
    make_feed(seed, lines).write(os.path.join(w, "feed.jsonl"))
    stream = (spark.readStream.format("crdb_changefeed")
              .option("replay", os.path.join(w, "feed.jsonl"))
              .option("epoch_rows", str(cap)).load())
    query = run_pipeline(stream, os.path.join(w, "out"), os.path.join(w, "ckpt"),
                         fan_out_tables=True, drain_all=True)
    epochs = {p.batchId for p in query.recentProgress if p.numInputRows > 0}
    return {"sources.epoch_rows_epochs": len(epochs)}
