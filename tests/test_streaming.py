"""Streaming semantics tests: foreachBatch publish with cursor mirroring,
checkpoint resume (at-least-once), and the metrics counter — reference
parity per SURVEY.md §5.2 item 3."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators.changefeed import CHANGEFEED_WIRE_SCHEMA
from crdb_changefeed_publisher_spark.streaming.cursors import (
    FileCursorStore,
    MemoryCursorStore,
)
from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT, serve_metrics
from crdb_changefeed_publisher_spark.streaming.pipeline import make_foreach_batch, run_pipeline
from crdb_changefeed_publisher_spark.streaming.queues import DirQueue


def wire_feed_df(spark, n_rows: int = 50, resolved_every: int = 10):
    """Changefeed-shaped batch df derived from a range (deterministic)."""
    is_resolved = F.col("id") % resolved_every == 0
    return spark.range(n_rows).select(
        F.when(is_resolved, F.lit(None)).otherwise(F.lit("t")).alias("table"),
        F.when(is_resolved, F.lit(None))
        .otherwise(F.concat(F.lit("["), F.col("id").cast("string"), F.lit("]")))
        .cast("binary")
        .alias("key"),
        F.when(
            is_resolved,
            F.concat(F.lit('{"resolved": "'), F.col("id").cast("string"), F.lit('.0,0"}')),
        )
        .otherwise(F.concat(F.lit('{"after": {"a": '), F.col("id").cast("string"), F.lit("}}")))
        .cast("binary")
        .alias("value"),
    )


def start_stream(spark, feed_dir: str, out_dir: str, ckpt: str, store):
    sdf = spark.readStream.schema("table string, key binary, value binary").parquet(feed_dir)
    return run_pipeline(sdf, out_dir, ckpt, cursor_store=store, drain_all=True)


def test_publish_and_cursor_mirror(spark, tmp_path):
    feed = str(tmp_path / "feed")
    wire_feed_df(spark, 50, 10).write.parquet(feed)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    store = MemoryCursorStore()
    before = MESSAGES_SENT.value

    q = start_stream(spark, feed, out, ckpt, store)
    q.awaitTermination(120)

    msgs = [json.loads(m) for m in DirQueue.read_all(out)]
    assert len(msgs) == 45  # 50 rows, 5 resolved
    assert all(set(m) == {"table", "key", "value"} for m in msgs)
    assert all(m["value"]["after"]["a"] is not None for m in msgs)
    # cursor mirrored to max resolved ts of the batch (string max of "NN.0,0")
    assert store.get() is not None and store.get().endswith(".0,0")
    assert MESSAGES_SENT.value - before == 45


def test_checkpoint_resume_at_least_once(spark, tmp_path):
    """New data after a restart is published exactly from the offset log:
    no rows lost, previously-committed rows not re-published."""
    feed = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    store = FileCursorStore(str(tmp_path / "cursor.json"))

    wire_feed_df(spark, 30, 10).write.mode("overwrite").parquet(feed)
    q = start_stream(spark, feed, out, ckpt, store)
    q.awaitTermination(120)
    n_first = len(DirQueue.read_all(out))
    assert n_first == 27  # 30 - 3 resolved

    # append more files => restart picks up only the new ones
    wire_feed_df(spark, 30, 10).withColumn(
        "key",
        F.when(F.col("key").isNull(), F.col("key")).otherwise(
            F.concat(F.lit("new-").cast("binary"), F.col("key"))
        ),
    ).write.mode("append").parquet(feed)
    q2 = start_stream(spark, feed, out, ckpt, store)
    q2.awaitTermination(120)

    msgs = DirQueue.read_all(out)
    assert len(msgs) == 54
    assert sum(1 for m in msgs if b"new-" in m) == 27


def test_per_key_publish_order(spark, tmp_path):
    """Multiple updates to the same key must publish in feed order
    (reference preserves changefeed order end-to-end, main.rs:226-227;
    here: per key via the _seq sort before partition-sequential publish)."""
    n_keys, n_versions = 5, 8
    rows = []
    for v in range(n_versions):
        for k in range(n_keys):
            rows.append(("t", f"[{k}]".encode(), f'{{"after": {{"v": {v}}}}}'.encode()))
    feed = str(tmp_path / "feed")
    spark.createDataFrame(rows, "table string, key binary, value binary").coalesce(
        1
    ).write.parquet(feed)

    q = start_stream(spark, feed, str(tmp_path / "out"), str(tmp_path / "ckpt"), None)
    q.awaitTermination(120)

    per_key: dict[str, list[int]] = {}
    for m in DirQueue.read_all(str(tmp_path / "out")):
        d = json.loads(m)
        per_key.setdefault(d["key"], []).append(d["value"]["after"]["v"])
    assert len(per_key) == n_keys
    for key, versions in per_key.items():
        assert versions == sorted(versions), f"key {key} out of order: {versions}"


# A driver result cap below the collect bound of any epoch the crash tests
# plan (~42 KB of feed each), so their range epochs take the task path
TASK_CAP = "32k"


@pytest.mark.parametrize("mode, cap", [("simple", None), ("partitioned", None),
                                       ("partitioned", TASK_CAP)],
                         ids=["simple", "partitioned-driver", "partitioned-tasks"])
def test_midrun_kill_resume_at_least_once(spark, tmp_path, mode, cap):
    """Crash injected AFTER an epoch publishes but BEFORE Spark commits it
    (the reference's at-least-once window between MQ publish and cursor
    persist, src/main.rs:226-235): on resume, exactly that epoch replays —
    every change delivered at least once, the crashed epoch delivered
    twice, nothing else duplicated. Both reader modes, and the range
    epochs both from the driver and, under a low result cap, from tasks."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT

    register(spark)
    old_cap = set_result_cap(spark, cap)
    try:
        feed = str(tmp_path / f"feed_{mode}.jsonl")
        out, ckpt = str(tmp_path / f"out_{mode}"), str(tmp_path / f"ckpt_{mode}")

        def write(n):
            with open(feed, "w", encoding="utf-8") as f:
                for i in range(n):
                    if i % 50 == 0:
                        f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")
                    else:
                        f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")
            return n - (n + 49) // 50  # change rows

        def reader():
            r = spark.readStream.format("crdb_changefeed").option("replay", feed)
            if mode == "simple":
                r = r.option("batch_limit", "300")
            else:
                r = r.option("read_partitions", "3")
            return r.load()

        write(1000)
        run_pipeline(reader(), out, ckpt, drain_all=True)
        published_clean = len(DirQueue.read_all(out))

        n_changes = write(2000)
        baseline = MESSAGES_SENT.value

        def crash_once(batch_id, sent_total, resolved):
            if sent_total > baseline:
                raise RuntimeError("injected mid-run kill")

        q = run_pipeline(reader(), out, ckpt, on_batch=crash_once)
        crashed = False
        try:
            q.processAllAvailable()
        except Exception:  # noqa: BLE001
            crashed = True
        finally:
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        assert crashed, f"{mode}: fault injection did not fire"
        dup_window = len(DirQueue.read_all(out)) - published_clean
        assert dup_window > 0, f"{mode}: crashed epoch published nothing"

        resumed = run_pipeline(reader(), out, ckpt, drain_all=True)
        assert (query_jobs(spark, resumed)[1] > 0) == (cap is not None), mode  # tasks shuffle
        msgs = DirQueue.read_all(out)
        keys = [json.loads(m)["key"] for m in msgs]
        assert len(set(keys)) == n_changes, mode  # everything delivered
        assert len(msgs) - len(set(keys)) == dup_window, mode  # only the crashed epoch twice
    finally:
        set_result_cap(spark, old_cap)


@pytest.mark.parametrize("cap", [None, TASK_CAP], ids=["driver", "tasks"])
def test_midrun_kill_resume_idempotent_sink_no_duplicates(spark, tmp_path, cap):
    """Same crash window as above, but with the batch-keyed idempotent
    sink: Spark replays the crashed epoch under the SAME batch id, the
    sink truncates-and-rewrites that batch's files, and the end state has
    ZERO duplicates — the exactly-once-ish recipe verified under an actual
    mid-run failure, with the epochs published from the driver and, under
    a low result cap, from tasks."""
    old_cap = set_result_cap(spark, cap)
    try:
        resumed = crash_and_resume_idempotent(spark, tmp_path)
        assert (query_jobs(spark, resumed)[1] > 0) == (cap is not None)  # tasks shuffle
    finally:
        set_result_cap(spark, old_cap)


def crash_and_resume_idempotent(spark, tmp_path):
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT

    register(spark)
    feed = str(tmp_path / "feed.jsonl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write(n):
        with open(feed, "w", encoding="utf-8") as f:
            for i in range(n):
                if i % 50 == 0:
                    f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")
                else:
                    f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")
        return n - (n + 49) // 50

    def reader():
        return (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("read_partitions", "3")
            .load()
        )

    write(1000)
    run_pipeline(reader(), out, ckpt, drain_all=True, idempotent=True)
    published_clean = len(DirQueue.read_all(out))

    n_changes = write(2000)
    baseline = MESSAGES_SENT.value

    def crash_once(batch_id, sent_total, resolved):
        if sent_total > baseline:
            raise RuntimeError("injected mid-run kill")

    q = run_pipeline(reader(), out, ckpt, on_batch=crash_once, idempotent=True)
    crashed = False
    try:
        q.processAllAvailable()
    except Exception:  # noqa: BLE001
        crashed = True
    finally:
        try:
            q.stop()
        except Exception:  # noqa: BLE001
            pass
    assert crashed
    assert len(DirQueue.read_all(out)) > published_clean  # epoch published pre-crash

    resumed = run_pipeline(reader(), out, ckpt, drain_all=True, idempotent=True)
    msgs = DirQueue.read_all(out)
    keys = [json.loads(m)["key"] for m in msgs]
    assert len(set(keys)) == n_changes
    assert len(msgs) == n_changes  # replay overwrote, not appended
    return resumed


def change_row(table: str, i: int) -> tuple:
    return (table, f"[{i}]".encode(), json.dumps({"after": {"a": i}}).encode())


def cursor_row(value: dict) -> tuple:
    return (None, None, json.dumps(value).encode())


def run_batch(spark, rows, out_dir, partitions: int = 3, batch_id: int = 0, **kwargs):
    """One make_foreach_batch call on `rows`, sliced in order over
    `partitions` input partitions; returns (resolved list, mirrored cursor,
    messages sent)."""
    batch = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions), CHANGEFEED_WIRE_SCHEMA
    )
    store, seen = MemoryCursorStore(), []
    before = MESSAGES_SENT.value
    make_foreach_batch(
        out_dir, store, on_batch=lambda _b, _n, resolved: seen.append(resolved), **kwargs
    )(batch, batch_id)
    return seen[0], store.get(), MESSAGES_SENT.value - before


def published(out_dir: str) -> list[bytes]:
    """Every message under out_dir, whether in one queue or fanned out."""
    out = []
    for dirpath, _, names in os.walk(out_dir):
        if names:
            out.extend(DirQueue.read_all(dirpath))
    return out


def test_fused_publish_matches_two_pass(spark, tmp_path):
    """The one-pass foreachBatch hands back the same resolved marks, and
    mirrors the same cursor, as the two-pass extraction (demux, then the
    cursor rows ordered by _seq) on the same decoded batch; its envelopes
    are the two-pass envelopes, byte for byte, with and without fan-out.
    Feed order, string max and numeric max of the marks all disagree."""
    from crdb_changefeed_publisher_spark.operators.changefeed import (
        decode_changefeed,
        extract_resolved,
        split_changes,
        to_envelopes,
    )

    marks = {2: "10.0,0", 21: "95.0,0", 40: "100.0,0", 59: "9.0,0"}
    rows = [
        cursor_row({"resolved": marks[i]}) if i in marks
        else change_row("orders" if i % 2 else "lineitem", i % 7)
        for i in range(60)
    ]
    batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), CHANGEFEED_WIRE_SCHEMA)
    decoded = decode_changefeed(batch).withColumn("_seq", F.monotonically_increasing_id())
    changes, cursors = split_changes(decoded)
    two_pass = [r.resolved for r in extract_resolved(cursors.orderBy("_seq")).collect()]
    assert two_pass == ["10.0,0", "95.0,0", "100.0,0", "9.0,0"]
    envelopes = sorted(r.envelope.encode() for r in to_envelopes(changes).collect())

    plain, fanned = str(tmp_path / "plain"), str(tmp_path / "fanned")
    assert run_batch(spark, rows, plain) == (two_pass, "9.0,0", 56)
    assert run_batch(spark, rows, fanned, fan_out_tables=True) == (two_pass, "9.0,0", 56)
    assert sorted(os.listdir(fanned)) == ["lineitem", "orders"]
    assert sorted(published(plain)) == sorted(published(fanned)) == envelopes


def queue_files(out_dir):
    """{table: {queue file: that table's envelopes in file order}}"""
    out: dict[str, dict[str, list[bytes]]] = {}
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                for line in f.read().splitlines():
                    out.setdefault(json.loads(line)["table"], {}).setdefault(
                        os.path.relpath(path, out_dir), []).append(line)
    return out


def assert_per_key_order(files_by_table) -> None:
    """Along every queue file, each key's `after.a` versions ascend."""
    for files in files_by_table.values():
        for lines in files.values():
            by_key: dict[str, list[int]] = {}
            for d in map(json.loads, lines):
                by_key.setdefault(d["key"], []).append(d["value"]["after"]["a"])
            assert all(v == sorted(v) for v in by_key.values())


def test_driver_and_task_placements_publish_the_same(spark, tmp_path):
    """One decoded batch published from one input partition (the driver,
    feed order, partition 0) and from three (key shuffle, one task per
    partition through mapInArrow), with and without fan-out: the same
    envelopes per table byte for byte, per-key feed order along every queue
    file, the same marks and mirrored cursor. The driver writes each
    table's envelopes in feed order."""
    marks = {2: "10.0,0", 21: "95.0,0", 40: "100.0,0", 59: "9.0,0"}
    rows = [
        cursor_row({"resolved": marks[i]}) if i in marks
        else ("orders" if i % 2 else "lineitem", f"[{i % 7}]".encode(),
              json.dumps({"after": {"a": i}}).encode())
        for i in range(60)
    ]
    in_feed_order: dict[str, list[bytes]] = {}
    for t, k, v in rows:
        if t is not None:
            in_feed_order.setdefault(t, []).append(
                b'{"table":"%s","key":"%s","value":%s}' % (t.encode(), k, v))

    for fan_out in (False, True):
        runs = {}
        for partitions in (1, 3):
            out = str(tmp_path / f"{fan_out}-{partitions}")
            assert run_batch(spark, rows, out, partitions=partitions, fan_out_tables=fan_out) == (
                ["10.0,0", "95.0,0", "100.0,0", "9.0,0"], "9.0,0", 56)
            runs[partitions] = queue_files(out)
            assert_per_key_order(runs[partitions])
        for t, expected in in_feed_order.items():
            assert sorted(sum(runs[3][t].values(), [])) == sorted(expected)
            name = os.path.join(t, "partition-00000.jsonl") if fan_out else "partition-00000.jsonl"
            assert runs[1][t] == {name: expected}
            assert not fan_out or all(f.startswith(t + os.sep) for f in runs[3][t])


@pytest.mark.parametrize("fan_out", [False, True], ids=["one-queue", "fan-out"])
def test_range_epoch_publishes_the_same_from_driver_and_tasks(spark, tmp_path, fan_out):
    """One recorded feed read as 3 ranges, drained twice: under the default
    result cap (the driver publishes the epoch in feed order as partition
    0) and under a cap below its collect bound (key shuffle, one
    mapInArrow task per partition). A hot key has versions in every range.
    Both drains give the same envelopes per table byte for byte, per-key
    version order along every queue file, and the same marks and mirrored
    cursor; the driver writes each table's envelopes in feed order."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    register(spark)
    feed = str(tmp_path / "feed.jsonl")
    # feed order, string max and numeric max of the marks all disagree
    marks = {99: "10.0,0", 299: "9.0,0", 449: "100.0,0", 599: "50.0,0"}
    in_feed_order: dict[str, list[bytes]] = {}
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(600):
            if i in marks:
                f.write(json.dumps([None, None, json.dumps({"resolved": marks[i]})]) + "\n")
                continue
            t, k, v = ("orders" if i % 2 else "lineitem", f"[{0 if i % 3 == 0 else i % 41 + 1}]",
                       json.dumps({"after": {"a": i}}))
            f.write(json.dumps([t, k, v]) + "\n")
            in_feed_order.setdefault(t, []).append(
                b'{"table":"%s","key":"%s","value":%s}' % (t.encode(), k.encode(), v.encode()))
    runs = {}
    for side, cap in (("driver", None), ("tasks", TASK_CAP)):
        out, store, seen = str(tmp_path / side), MemoryCursorStore(), []
        old_cap = set_result_cap(spark, cap)
        try:
            stream = (spark.readStream.format("crdb_changefeed").option("replay", feed)
                      .option("read_partitions", "3").load())
            q = run_pipeline(stream, out, str(tmp_path / f"ckpt-{side}"), store,
                             fan_out_tables=fan_out, drain_all=True,
                             on_batch=lambda _b, _n, resolved: seen.extend(resolved))
        finally:
            set_result_cap(spark, old_cap)
        assert (query_jobs(spark, q)[1] > 0) == (side == "tasks")
        assert (seen, store.get()) == (["10.0,0", "9.0,0", "100.0,0", "50.0,0"], "50.0,0")
        runs[side] = queue_files(out)
        assert_per_key_order(runs[side])
    for t, expected in in_feed_order.items():
        assert sorted(sum(runs["tasks"][t].values(), [])) == sorted(expected)
        name = os.path.join(t, "partition-00000.jsonl") if fan_out else "partition-00000.jsonl"
        assert runs["driver"][t] == {name: expected}


ALL_RESOLVED = [cursor_row({"resolved": f"{v}.0,0"}) for v in (10, 11, 9)]


@pytest.mark.parametrize(
    "rows, idempotent, expected, partitions",
    [
        (ALL_RESOLVED, False, (["10.0,0", "11.0,0", "9.0,0"], "9.0,0", 0), 3),
        (ALL_RESOLVED, True, (["10.0,0", "11.0,0", "9.0,0"], "9.0,0", 0), 3),
        ([], False, ([], None, 0), 3),
        (ALL_RESOLVED, False, (["10.0,0", "11.0,0", "9.0,0"], "9.0,0", 0), 1),
        (ALL_RESOLVED, True, (["10.0,0", "11.0,0", "9.0,0"], "9.0,0", 0), 1),
        ([], False, ([], None, 0), 1),
    ],
    ids=["all-resolved", "all-resolved-idempotent", "empty",
         "all-resolved-driver", "all-resolved-idempotent-driver", "empty-driver"],
)
def test_batch_without_changes_opens_no_queue(spark, tmp_path, rows, idempotent, expected,
                                              partitions):
    """An all-resolved batch mirrors its last mark and an empty one sets no
    cursor; neither publishes or creates a queue file (not even an empty
    batch-keyed one)."""
    out = str(tmp_path / "out")
    assert run_batch(spark, rows, out, partitions, idempotent=idempotent) == expected
    assert not os.path.exists(out)


@pytest.mark.parametrize("partitions", [3, 1], ids=["tasks", "driver"])
def test_cursor_row_without_resolved_is_skipped(spark, tmp_path, partitions):
    rows = [change_row("t", 1), cursor_row({"resolved": "5.0,0"}), change_row("t", 2),
            cursor_row({"other": "6.0,0"})]
    out = str(tmp_path / "out")
    assert run_batch(spark, rows, out, partitions) == (["5.0,0"], "5.0,0", 2)
    assert len(published(out)) == 2


@pytest.mark.parametrize("partitions", [3, 1], ids=["tasks", "driver"])
def test_change_row_with_null_key_raises(spark, tmp_path, partitions):
    rows = [change_row("t", 1), cursor_row({"resolved": "5.0,0"}),
            ("t", None, json.dumps({"after": {"a": 3}}).encode())]
    with pytest.raises(Exception, match="malformed change row"):
        run_batch(spark, rows, str(tmp_path / "out"), partitions)


def test_idempotent_replay_of_a_one_partition_batch_truncates(spark, tmp_path):
    """The driver publishes a one-partition batch as partition 0: a replay
    under the same batch id rewrites its one batch-keyed file."""
    rows = [change_row("t", i) for i in range(5)] + [cursor_row({"resolved": "5.0,0"})]
    out = str(tmp_path / "out")
    for _ in range(2):
        assert run_batch(spark, rows, out, partitions=1, batch_id=7, idempotent=True) == (
            ["5.0,0"], "5.0,0", 5)
    assert os.listdir(out) == ["batch-00000007-partition-00000.jsonl"]
    msgs = published(out)
    assert len(msgs) == len(set(msgs)) == 5


def test_foreach_batch_reads_the_batch_once(spark, tmp_path):
    """One pass per micro-batch, counted rather than timed: a Python UDF on
    `value` counts every row the epoch evaluates, and the epoch runs at
    most two jobs (the shuffle map stage and the publish stage)."""
    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    @F.udf("binary")
    def counted(value):
        evaluated.add(1)
        return value

    base = wire_feed_df(spark, 200, 10)
    batch = base.select("table", "key", counted("value").alias("value"))
    group = "test-foreach-batch-reads-once"
    sc.setJobGroup(group, "one epoch")
    try:
        make_foreach_batch(str(tmp_path / "out"), MemoryCursorStore())(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert evaluated.value == 200
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_simple_reader_epoch_runs_one_job_without_shuffle(spark, tmp_path):
    """A simple-reader epoch has one input partition, so its publish is one
    driver-side Arrow collect: one job under the query's job group, which
    writes no shuffle bytes."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    register(spark)
    feed = str(tmp_path / "feed.jsonl")
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(30):
            if i % 10 == 9:
                f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")
            else:
                f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")
    stream = (spark.readStream.format("crdb_changefeed").option("replay", feed)
              .option("batch_limit", "100").load())
    q = run_pipeline(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), drain_all=True)
    assert len(DirQueue.read_all(str(tmp_path / "out"))) == 27
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [30]
    assert query_jobs(spark, q) == (1, 0)


def write_range_feed(feed: str, n: int, tables=("t",), pad: int = 0) -> None:
    """`n` change rows over `tables` in turn, then one resolved mark."""
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(n):
            after = {"a": i, "pad": "x" * pad} if pad else {"a": i}
            f.write(json.dumps([tables[i % len(tables)], f"[{i}]", json.dumps({"after": after})])
                    + "\n")
        f.write(json.dumps([None, None, json.dumps({"resolved": f"{n - 1}.0,0"})]) + "\n")


def set_result_cap(spark, cap: str | None) -> str:
    """Set spark.driver.maxResultSize (None leaves it alone); returns the
    value it replaces, for the caller's finally to restore."""
    conf = spark.sparkContext._jsc.sc().conf()
    old = conf.get("spark.driver.maxResultSize", "1g")
    if cap is not None:
        conf.set("spark.driver.maxResultSize", cap)
    return old


def query_jobs(spark, q) -> tuple[int, int]:
    """(jobs, shuffle write bytes) of every epoch `q` ran, read from its job
    group."""
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
    store = sc._jsc.sc().statusStore()
    stages = [s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds]
    return len(jobs), sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)


def test_range_replay_epoch_under_the_cap_runs_one_job_without_shuffle(spark, tmp_path):
    """A partitioned-reader epoch of 4 ranges whose collect bound fits the
    driver's result cap is collected as Arrow and published from the
    driver: one job under the query's job group, no shuffle bytes, and one
    queue file per table."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    register(spark)
    feed, out = str(tmp_path / "feed.jsonl"), str(tmp_path / "out")
    write_range_feed(feed, 400, tables=("orders", "lineitem"))
    stream = (spark.readStream.format("crdb_changefeed").option("replay", feed)
              .option("read_partitions", "4").load())
    store = MemoryCursorStore()
    q = run_pipeline(stream, out, str(tmp_path / "ckpt"), store, fan_out_tables=True,
                     drain_all=True)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [401]
    assert query_jobs(spark, q) == (1, 0)
    assert sorted(os.path.relpath(os.path.join(d, n), out) for d, _, names in os.walk(out)
                  for n in names) == [os.path.join(t, "partition-00000.jsonl")
                                      for t in ("lineitem", "orders")]
    assert len(published(out)) == 400
    assert store.get() == "399.0,0"


@pytest.mark.parametrize("read_partitions, cap", [(1, "64k"), (4, "64k"), (4, "0")],
                         ids=["one-range", "four-ranges", "four-ranges-uncapped"])
def test_one_range_replay_epoch_is_not_collected_to_the_driver(spark, tmp_path,
                                                               read_partitions, cap):
    """A partitioned-reader epoch (epoch_rows=0) holds the whole feed: under
    a driver result cap below its collect bound, or a cap of 0 (unlimited,
    so no bound is known), it publishes from tasks through the key shuffle,
    so only counts and marks reach the driver and the cap does not fail it,
    however many ranges it is read as."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    register(spark)
    feed = str(tmp_path / "feed.jsonl")
    write_range_feed(feed, 2000, pad=100)
    old_cap = set_result_cap(spark, cap)  # the envelopes total ~250 KB
    try:
        stream = (spark.readStream.format("crdb_changefeed").option("replay", feed)
                  .option("read_partitions", str(read_partitions)).load())
        store = MemoryCursorStore()
        q = run_pipeline(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), store,
                         drain_all=True)
    finally:
        set_result_cap(spark, old_cap)
    jobs, shuffled = query_jobs(spark, q)
    assert jobs == 2 and shuffled > 0
    assert len(published(str(tmp_path / "out"))) == 2000
    assert store.get() == "1999.0,0"


@pytest.mark.parametrize("value, separators", [('{"after": null}', None), ("{}", (",", ":"))],
                         ids=["deletes", "empty-compact"])
def test_thin_row_range_epoch_places_by_its_collect_bound(spark, tmp_path, value, separators):
    """Thin fan-out rows (short keys, delete-only or empty values, the
    latter in compact feed lines, the tightest case for the bound) collect
    to more than twice their feed bytes, so feed bytes alone do not bound
    the collect. Under a cap just above twice the feed bytes the epoch
    publishes from tasks instead of failing its collect on every replay;
    under a cap of exactly its `collect_bound` it publishes from the driver,
    and the collect fits."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        ChangefeedPartitionedStreamReader,
        register,
    )
    from crdb_changefeed_publisher_spark.streaming.pipeline import collect_bound

    register(spark)
    feed = str(tmp_path / "feed.jsonl")
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(2000):
            f.write(json.dumps(["ab"[i % 2], f"[{i}]", value], separators=separators) + "\n")
        f.write(json.dumps([None, None, json.dumps({"resolved": "1999.0,0"})]) + "\n")
    reader = ChangefeedPartitionedStreamReader({"replay": feed, "read_partitions": "4"})
    reader.latestOffset()
    bound = collect_bound(reader.partitions({"pos": 0}, {"pos": 2001}))
    for side, cap in (("tasks", 2 * os.path.getsize(feed) + 1024), ("driver", bound)):
        out, store = str(tmp_path / side), MemoryCursorStore()
        old_cap = set_result_cap(spark, str(cap))
        try:
            stream = (spark.readStream.format("crdb_changefeed").option("replay", feed)
                      .option("read_partitions", "4").load())
            q = run_pipeline(stream, out, str(tmp_path / f"ckpt-{side}"), store,
                             fan_out_tables=True, drain_all=True)
        finally:
            set_result_cap(spark, old_cap)
        jobs, shuffled = query_jobs(spark, q)
        assert (jobs, shuffled > 0) == ((2, True) if side == "tasks" else (1, False)), side
        assert len(published(out)) == 2000, side
        assert store.get() == "1999.0,0", side


def test_metrics_endpoint(tmp_path):
    import urllib.request

    server = serve_metrics("127.0.0.1:18901")
    try:
        base = MESSAGES_SENT.value
        MESSAGES_SENT.inc(3)
        body = urllib.request.urlopen("http://127.0.0.1:18901/metrics").read().decode()
        assert "# TYPE rabbitmq_messages_sent counter" in body
        assert f"rabbitmq_messages_sent {base + 3}" in body
    finally:
        server.shutdown()


def test_dir_queue_partition_files_ordered(tmp_path):
    q = DirQueue(str(tmp_path / "q"), partition_id=3)
    q.publish_many([b"a", b"b"])
    q.close()
    assert DirQueue.read_all(str(tmp_path / "q")) == [b"a", b"b"]
    assert os.listdir(str(tmp_path / "q")) == ["partition-00003.jsonl"]


def test_memory_cursor_store_starts_empty_and_keeps_the_last_set():
    store = MemoryCursorStore()
    assert store.get() is None
    store.set("1.0,0")
    store.set("2.0,0")
    assert store.get() == "2.0,0"


def test_file_cursor_store_missing_file_reads_none(tmp_path):
    store = FileCursorStore(str(tmp_path / "nested" / "dir" / "cursor.json"))
    assert os.path.isdir(str(tmp_path / "nested" / "dir"))  # parent made up front
    assert store.get() is None


@pytest.mark.parametrize("contents", ["", "{not json", '{"key": "key"}'],
                         ids=["empty", "corrupt", "no_cursor_field"])
def test_file_cursor_store_unreadable_contents_read_none(tmp_path, contents):
    """A cursor file that is empty, torn or lacks the cursor field reads
    as no cursor (a cursor-less start) instead of failing the publisher."""
    path = tmp_path / "cursor.json"
    path.write_text(contents, encoding="utf-8")
    assert FileCursorStore(str(path)).get() is None


def test_file_cursor_store_set_replaces_and_survives_reopen(tmp_path):
    """set() is the UPSERT of the reference's single-key row: the last
    value wins, a new store on the same path reads it, and the tmp file
    of the atomic replace is gone."""
    path = str(tmp_path / "cursor.json")
    store = FileCursorStore(path)
    store.set("1595866288.0,0")
    store.set("1595866299.5,1")
    assert FileCursorStore(path).get() == "1595866299.5,1"
    with open(path, encoding="utf-8") as f:
        assert json.load(f) == {"key": "key", "cursor": "1595866299.5,1"}
    assert os.listdir(str(tmp_path)) == ["cursor.json"]


def test_make_cursor_store_registry(tmp_path):
    from crdb_changefeed_publisher_spark.streaming.cursors import make_cursor_store

    store = make_cursor_store("file", path=str(tmp_path / "c.json"))
    assert isinstance(store, FileCursorStore)
    with pytest.raises(ValueError, match="unknown cursor store type"):
        make_cursor_store("memory")


def test_cockroachdb_cursor_store_issues_the_reference_sql(monkeypatch):
    """The cockroachdb store creates its table on connect, reads the single
    'key' row, and UPSERTs the cursor as a bound parameter (src/cursors.rs)."""
    import sys
    import types

    from crdb_changefeed_publisher_spark.streaming.cursors import (
        JdbcCursorStore,
        make_cursor_store,
    )

    class FakeConn:
        def __init__(self):
            self.statements, self.row = [], None

        def execute(self, sql, params=None):
            self.statements.append((sql, params))
            if sql.startswith("UPSERT"):
                self.row = (params[0],)
            return self

        def fetchone(self):
            return self.row

    conns = []

    def connect(url, autocommit):
        assert url == "postgresql://crdb:26257/db" and autocommit
        conns.append(FakeConn())
        return conns[-1]

    monkeypatch.setitem(sys.modules, "psycopg", types.SimpleNamespace(connect=connect))
    store = make_cursor_store("cockroachdb", database_url="postgresql://crdb:26257/db")
    assert isinstance(store, JdbcCursorStore)
    assert store.get() is None
    store.set("1595866288.0,0")
    assert store.get() == "1595866288.0,0"
    sql = [s for s, _ in conns[0].statements]
    assert sql[0] == JdbcCursorStore.DDL
    assert sql.count(JdbcCursorStore.GET) == 2
    assert (JdbcCursorStore.SET, ("1595866288.0,0",)) in conns[0].statements


def test_cockroachdb_cursor_store_without_psycopg_raises(monkeypatch):
    import sys

    from crdb_changefeed_publisher_spark.streaming.cursors import JdbcCursorStore

    monkeypatch.setitem(sys.modules, "psycopg", None)  # import raises ImportError
    with pytest.raises(RuntimeError, match="psycopg is not installed"):
        JdbcCursorStore("postgresql://crdb:26257/db")


def test_dir_queue_default_mode_appends_across_reopens(tmp_path):
    """Without a batch id the dir queue appends (reference at-least-once):
    a second open of the same partition keeps what the first published."""
    out = str(tmp_path / "q")
    for batch in ([b"a", b"b"], [b"c"]):
        q = DirQueue(out, partition_id=0)
        q.publish_many(batch)
        q.close()
    assert DirQueue.read_all(out) == [b"a", b"b", b"c"]


def test_dir_queue_empty_publish_writes_no_lines(tmp_path):
    out = str(tmp_path / "q")
    q = DirQueue(out, partition_id=0, batch_id=4)
    q.publish_many([])
    q.close()
    assert os.listdir(out) == ["batch-00000004-partition-00000.jsonl"]
    assert DirQueue.read_all(out) == []


def test_dir_queue_close_releases_its_file_when_fsync_fails(tmp_path, monkeypatch):
    """A failed fsync (a full or failing disk) still fails the close, and
    the file is closed anyway, so no descriptor outlives the attempt."""
    q = DirQueue(str(tmp_path / "q"), partition_id=0)
    q.publish_many([b"a"])

    def failing_fsync(fd):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(os, "fsync", failing_fsync)
    with pytest.raises(OSError, match="No space left"):
        q.close()
    assert q._f.closed


def test_dir_queue_read_all_orders_by_batch_then_partition(tmp_path):
    out = str(tmp_path / "q")
    for batch_id, pid, msg in [(1, 2, b"1.2"), (0, 1, b"0.1"), (1, 0, b"1.0"), (0, 0, b"0.0")]:
        q = DirQueue(out, partition_id=pid, batch_id=batch_id)
        q.publish_many([msg])
        q.close()
    assert DirQueue.read_all(out) == [b"0.0", b"0.1", b"1.0", b"1.2"]


def test_make_queue_dir_and_unknown_kind(tmp_path):
    from crdb_changefeed_publisher_spark.streaming.queues import make_queue

    q = make_queue("dir", path=str(tmp_path / "q"), partition_id=2, batch_id=9)
    assert isinstance(q, DirQueue)
    q.publish_many([b"m"])
    q.close()
    assert os.listdir(str(tmp_path / "q")) == ["batch-00000009-partition-00002.jsonl"]
    with pytest.raises(ValueError, match="unknown queue type"):
        make_queue("kafka")


def test_counter_exposition_is_prometheus_text():
    from crdb_changefeed_publisher_spark.streaming.metrics import Counter

    c = Counter("cdc_rows", "Rows seen.")
    c.inc()
    c.inc(4)
    assert c.exposition() == (
        "# HELP cdc_rows Rows seen.\n# TYPE cdc_rows counter\ncdc_rows 5\n"
    )


def test_counter_inc_is_thread_safe():
    import threading

    from crdb_changefeed_publisher_spark.streaming.metrics import Counter

    c = Counter("n", "n")
    threads = [
        threading.Thread(target=lambda: [c.inc() for _ in range(2000)]) for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert c.value == 8000


def test_metrics_endpoint_serves_only_metrics_path(monkeypatch):
    """PROMETHEUS_ADDR picks the bind address; /metrics exposes exactly the
    counters passed in, and any other path is a 404."""
    import urllib.error
    import urllib.request

    from crdb_changefeed_publisher_spark.streaming.metrics import Counter

    monkeypatch.setenv("PROMETHEUS_ADDR", "127.0.0.1:0")  # any free port
    c = Counter("published_total", "Published.")
    c.inc(2)
    server = serve_metrics(counters=[c])
    try:
        host, port = server.server_address[:2]
        assert host == "127.0.0.1"
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        assert body == c.exposition()
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/")
        assert err.value.code == 404
    finally:
        server.shutdown()
        server.server_close()
