"""`--once` drain semantics for the custom Python source + the idempotent
batch-keyed sink (the exactly-once-ish foreachBatch recipe)."""

from __future__ import annotations

import json

from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
from crdb_changefeed_publisher_spark.streaming.cursors import MemoryCursorStore
from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
from crdb_changefeed_publisher_spark.streaming.queues import DirQueue


def write_feed(path: str, n_rows: int, resolved_every: int) -> None:
    with open(path, "w") as f:
        for i in range(n_rows):
            f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")
            if (i + 1) % resolved_every == 0:
                f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")


def test_drain_all_consumes_whole_recording_in_one_run(spark, tmp_path):
    """Trigger.AvailableNow degrades to a single micro-batch on a Python
    simple source (probed: 17/105 rows). drain_all must process EVERY
    recorded row in one `--once` invocation, across many micro-batches,
    and leave the cursor at the last resolved mark."""
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 100, 20)
    register(spark)
    sdf = (
        spark.readStream.format("crdb_changefeed")
        .option("replay", feed)
        .option("batch_limit", "17")  # forces ~7 micro-batches
        .load()
    )
    store = MemoryCursorStore()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_pipeline(sdf, out, ckpt, cursor_store=store, drain_all=True)
    assert not q.isActive
    msgs = [json.loads(m) for m in DirQueue.read_all(out)]
    ids = sorted(int(m["key"][1:-1]) for m in msgs)
    assert ids == list(range(100))
    assert store.get() == "99.0,0"


def test_multi_table_fan_out_routes_per_table(spark, tmp_path):
    """One stream, N tables -> N queue destinations (Spark upgrade over the
    reference's one-table design): envelopes land under out_dir/<table>/,
    per-key order preserved within each table."""
    import os

    from crdb_changefeed_publisher_spark.streaming.pipeline import make_foreach_batch

    rows = []
    for i in range(30):
        t = "orders" if i % 2 == 0 else "lineitem"
        rows.append((t, f"[{i % 3}]".encode(), json.dumps({"after": {"v": i}}).encode()))
    batch = spark.createDataFrame(rows, "table string, key binary, value binary")
    out = str(tmp_path / "fan")
    run = make_foreach_batch(out, fan_out_tables=True)
    run(batch, 0)

    assert sorted(os.listdir(out)) == ["lineitem", "orders"]
    for t, parity in (("orders", 0), ("lineitem", 1)):
        msgs = [json.loads(m) for m in DirQueue.read_all(os.path.join(out, t))]
        assert len(msgs) == 15
        assert all(m["table"] == t for m in msgs)
        vals = [m["value"]["after"]["v"] for m in msgs]
        assert all(v % 2 == parity for v in vals)
        # per-key ascending order within the table (sorted by key, seq)
        by_key: dict[str, list[int]] = {}
        for m in msgs:
            by_key.setdefault(m["key"], []).append(m["value"]["after"]["v"])
        for seq in by_key.values():
            assert seq == sorted(seq)


def test_idempotent_foreach_batch_replay_end_to_end(spark, tmp_path):
    """The wiring, not just the queue: make_foreach_batch(idempotent=True)
    threads Spark's batch_id into the batch-keyed sink, so re-running the
    SAME batch (a foreachBatch retry) leaves zero duplicates end to end."""
    import os

    from crdb_changefeed_publisher_spark.streaming.pipeline import make_foreach_batch

    rows = [
        ("t", f"[{i % 3}]".encode(), json.dumps({"after": {"v": i}}).encode())
        for i in range(12)
    ]
    batch = spark.createDataFrame(rows, "table string, key binary, value binary")
    out = str(tmp_path / "xo")
    run = make_foreach_batch(out, idempotent=True)
    run(batch, 5)
    run(batch, 5)  # retry of the same micro-batch
    msgs = [json.loads(m) for m in DirQueue.read_all(out)]
    assert sorted(m["value"]["after"]["v"] for m in msgs) == list(range(12))
    assert all(name.startswith("batch-00000005-") for name in os.listdir(out))


def test_idempotent_sink_batch_replay_no_duplicates(spark, tmp_path):
    """foreachBatch retries re-run the SAME batch_id; the batch-keyed dir
    sink truncates on open, so a replay overwrites its previous attempt
    instead of appending duplicates."""
    q = DirQueue(str(tmp_path / "q"), partition_id=0, batch_id=7)
    q.publish_many([b"m1", b"m2"])
    q.close()
    # simulate the Spark retry: same batch, same partition, fresh attempt
    q2 = DirQueue(str(tmp_path / "q"), partition_id=0, batch_id=7)
    q2.publish_many([b"m1", b"m2"])
    q2.close()
    assert DirQueue.read_all(str(tmp_path / "q")) == [b"m1", b"m2"]
    # a DIFFERENT batch gets its own file and both survive
    q3 = DirQueue(str(tmp_path / "q"), partition_id=0, batch_id=8)
    q3.publish_many([b"m3"])
    q3.close()
    assert DirQueue.read_all(str(tmp_path / "q")) == [b"m1", b"m2", b"m3"]
