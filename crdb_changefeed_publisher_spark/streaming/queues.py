"""Message-queue sinks, mirroring the reference's MessageQueue trait
(reference src/queues.rs:13-15: ``publish(message: Vec<u8>)``) with
at-least-once, publisher-confirmed semantics (src/queues.rs:44-65).

Implementations:
- DirQueue: one file per partition under a directory, appended sequentially —
  a distributed-safe stand-in used by the streaming tests (executors write
  their own partition file, order within partition preserved like the
  reference's sequential confirmed publish).
- RabbitMQQueue: real AMQP via pika when available (import-gated: pika is
  not bundled in this environment), one channel per partition, publisher
  confirms on (delivery confirmation == the double-await in queues.rs:55-56).

The registry mirrors model.rs:6-16 QueueType (single variant "rabbitmq")
plus the file queue.
"""

from __future__ import annotations

import os
from typing import Protocol


class MessageQueue(Protocol):
    """Parity with reference src/queues.rs:13-15 (publish_many is the
    Arrow-batch bulk form — semantically a loop of publishes)."""

    def publish_many(self, messages: "list[bytes]") -> None: ...

    def close(self) -> None: ...


class DirQueue:
    """Append-to-file queue with GROUP COMMIT: each partition opens its own
    file, writes are sequential, and close() flushes + fsyncs ONCE — the
    publisher-confirm analog at micro-batch granularity. close() runs
    before foreachBatch returns, so durability is established before Spark
    commits the batch's offsets; a crash before the fsync replays the whole
    batch. That is the same at-least-once window as the reference's
    confirm-then-checkpoint ordering (src/main.rs:226-234) — per-message
    fsync (how round 1-3 did it) costs ~10x wall time for a stronger
    guarantee Spark's batch-commit protocol cannot observe anyway.

    `batch_id` switches on the IDEMPOTENT layout: the file is keyed by
    (batch_id, partition) and TRUNCATED on open, so a foreachBatch retry of
    the same batch overwrites its own previous attempt instead of appending
    duplicates — the standard exactly-once-ish recipe for deterministic
    micro-batches (Spark replays a failed batch under the same batch_id).
    Default (no batch_id) appends: reference-parity at-least-once."""

    def __init__(self, path: str, partition_id: int = 0, batch_id: int | None = None) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        if batch_id is None:
            name, mode = f"partition-{partition_id:05d}.jsonl", "ab"
        else:
            name, mode = f"batch-{batch_id:08d}-partition-{partition_id:05d}.jsonl", "wb"
        self._f = open(  # noqa: SIM115 - lifetime managed by close()
            os.path.join(path, name), mode
        )

    def publish_many(self, messages: list[bytes]) -> None:
        # one buffered write per Arrow batch; group-commit fsync in close()
        if messages:
            self._f.write(b"\n".join(messages) + b"\n")

    def close(self) -> None:
        # a failed flush or fsync (ENOSPC, EIO) still fails the publish, but
        # does not leak the descriptor into the long-lived driver process
        try:
            self._f.flush()
            os.fsync(self._f.fileno())
        finally:
            self._f.close()

    @staticmethod
    def read_all(path: str) -> list[bytes]:
        out: list[bytes] = []
        for name in sorted(os.listdir(path)):
            with open(os.path.join(path, name), "rb") as f:
                out.extend(line.rstrip(b"\n") for line in f)
        return out


class RabbitMQQueue:
    """AMQP publisher with confirms (reference src/queues.rs:17-65):
    declares the queue (durable=False to match queue_declare defaults there),
    publishes to the default exchange with routing_key = queue name, and
    enables confirm_delivery so each publish waits for the broker ack.

    `batch_id` switches on the EXACTLY-ONCE-ISH recipe (the AMQP analog of
    DirQueue's batch-keyed truncation, which a broker cannot do): every
    message carries headers (x-batch-id, x-partition-id, x-seq). Spark
    replays a failed batch under the same batch_id with deterministic
    content and partitioning, and the publish path sorts by (key, seq), so
    a replayed message carries the SAME header triple — consumers (or a
    dedup proxy) discard duplicates on it. Without batch_id:
    reference-parity at-least-once."""

    def __init__(
        self,
        amqp_addr: str,
        queue: str,
        partition_id: int = 0,
        batch_id: int | None = None,
    ) -> None:
        try:
            import pika  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - pika not bundled
            raise RuntimeError(
                "pika is not installed; use DirQueue or install pika"
            ) from e
        self._pika = pika
        self._conn = pika.BlockingConnection(pika.URLParameters(amqp_addr))
        self._chan = self._conn.channel()
        self._chan.queue_declare(queue=queue)
        self._chan.confirm_delivery()  # publisher confirms, queues.rs:55-56
        self._queue = queue
        self._partition_id = partition_id
        self._batch_id = batch_id
        self._seq = 0

    def publish(self, message: bytes) -> None:
        kwargs = {}
        if self._batch_id is not None:
            kwargs["properties"] = self._pika.BasicProperties(
                headers={
                    "x-batch-id": self._batch_id,
                    "x-partition-id": self._partition_id,
                    "x-seq": self._seq,
                }
            )
            self._seq += 1
        self._chan.basic_publish(
            exchange="", routing_key=self._queue, body=message, **kwargs
        )

    def publish_many(self, messages: list[bytes]) -> None:
        # AMQP has no batch publish; the confirm channel acks each in turn
        for m in messages:
            self.publish(m)

    def close(self) -> None:
        self._conn.close()


def make_queue(kind: str, *, path: str | None = None, partition_id: int = 0,
               amqp_addr: str | None = None, queue: str = "rabbitmq",
               batch_id: int | None = None) -> MessageQueue:
    """QueueType registry (reference src/model.rs:6-16 has only 'rabbitmq')."""
    if kind == "rabbitmq":
        return RabbitMQQueue(
            amqp_addr or os.environ.get("AMQP_ADDR", "amqp://127.0.0.1:5672"),
            queue,
            partition_id=partition_id,
            batch_id=batch_id,
        )
    if kind == "dir":
        assert path is not None
        return DirQueue(path, partition_id, batch_id=batch_id)
    raise ValueError(f"unknown queue type: {kind}")
