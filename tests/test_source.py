"""Custom crdb_changefeed data source tests: registration, streaming read of
a replayed feed, offset progression, and GC-threshold cursor fallback
(reference src/main.rs:125-203 semantics)."""

from __future__ import annotations

import json

import pytest

from crdb_changefeed_publisher_spark.sources import crdb_changefeed
from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
    ChangefeedSimpleStreamReader,
    GcThresholdError,
    JsonlReplayConnection,
    RetryReason,
    build_changefeed_query,
    register,
    should_retry,
)


def test_build_changefeed_query():
    assert (
        build_changefeed_query("foo", "10s")
        == "EXPERIMENTAL CHANGEFEED FOR foo WITH resolved = '10s'"
    )
    assert (
        build_changefeed_query("foo", "1s", "1595866288.0,0")
        == "EXPERIMENTAL CHANGEFEED FOR foo WITH resolved = '1s', cursor = '1595866288.0,0'"
    )


def test_should_retry_gc_regex():
    msg = "batch timestamp 1595866288.020022200,0 must be after replica GC threshold 1595866299.1,0"
    assert should_retry(msg) is RetryReason.INVALID_CURSOR
    assert should_retry("connection refused") is RetryReason.NONE
    assert should_retry("prefix " + msg) is RetryReason.NONE  # anchored, like the reference


def write_feed(path, n=20, resolved_every=5):
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            if i % resolved_every == 0:
                f.write(json.dumps([None, None, json.dumps({"resolved": f"{i}.0,0"})]) + "\n")
            else:
                f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"a": i}})]) + "\n")


def test_simple_reader_offsets(tmp_path):
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 12, 4)
    reader = ChangefeedSimpleStreamReader({"replay": feed, "batch_limit": "5"})
    start = reader.initialOffset()
    assert start == {"pos": 0, "resolved": None}

    rows, end = reader.read(start)
    rows = list(rows)
    assert len(rows) == 5
    assert end["pos"] == 5
    assert end["resolved"] == "4.0,0"  # latest resolved row consumed

    rows2, end2 = reader.read(end)
    assert len(list(rows2)) == 5
    assert end2 == {"pos": 10, "resolved": "8.0,0"}

    # deterministic replay between committed offsets
    again = list(reader.readBetweenOffsets(start, end))
    assert [r[0] for r in again] == [r[0] for r in rows]


def test_replay_fetch_seeks_not_rescans(tmp_path, monkeypatch):
    """Sequential micro-batches over a long feed must read each line once:
    the connection seeks to the cached byte offset of the batch start
    instead of rescanning lines 0..pos every fetch (O(n) total, not O(n^2))."""
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 1000, 100)
    conn = JsonlReplayConnection(feed)
    total = 0
    for pos in range(0, 1000, 50):
        rows = conn.fetch(pos, None, 50)
        total += len(rows)
    assert total == 1000
    # 20 batches x 50 rows: every line pulled off disk exactly once
    assert conn.lines_scanned == 1000

    # a cold fetch at an unindexed position skips forward from the start,
    # indexing every INDEX_STRIDE-th line; later fetches behind the
    # frontier hop to the nearest stride point and skip < stride lines —
    # bounded work per fetch with O(lines/stride) index memory
    monkeypatch.setattr(crdb_changefeed, "INDEX_STRIDE", 100)
    cold = JsonlReplayConnection(feed)
    cold.fetch(990, None, 50)
    assert cold.lines_scanned == 1000  # 990 skipped + 10 consumed
    cold.fetch(990, None, 50)
    # second time: hop to indexed line 900, skip 90, consume 10
    assert cold.lines_scanned == 1100
    assert len(cold.index.stride_bytes) == 11  # lines 0, 100, ..., 1000 only

    # appended lines are visible without invalidating cached offsets
    with open(feed, "a", encoding="utf-8") as f:
        f.write(json.dumps(["t", "[x]", json.dumps({"after": {"a": -1}})]) + "\n")
    assert len(conn.fetch(1000, None, 50)) == 1


def test_replay_fetch_random_access_matches_naive(tmp_path):
    """Property: any sequence of (pos, limit) fetches returns exactly what a
    naive full-file read would — the byte-offset cache must never skew a
    read, including backward seeks, repeats, and past-EOF positions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 60, 7)
    with open(feed, encoding="utf-8") as f:
        naive = [json.loads(line) for line in f]

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=70), st.integers(min_value=1, max_value=20)),
            min_size=1,
            max_size=8,
        )
    )
    def check(accesses):
        conn = JsonlReplayConnection(feed)
        for pos, limit in accesses:
            got = conn.fetch(pos, None, limit)
            want = naive[pos : pos + limit]
            assert [r.table for r in got] == [w[0] for w in want]
            assert [r.value.decode() for r in got] == [w[2] for w in want]

    check()


def test_gc_threshold_fallback(tmp_path):
    """A cursor below the GC floor restarts cursor-less from the floor
    (reference: ignore_cursor => skip to now, main.rs:175)."""
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 10, 5)
    conn = JsonlReplayConnection(feed, gc_floor=4)
    with pytest.raises(GcThresholdError):
        conn.fetch(0, "0.0,0", 10)

    reader = ChangefeedSimpleStreamReader({"replay": feed, "gc_floor": "4"})
    rows, end = reader.read({"pos": 0, "resolved": "0.0,0"})
    rows = list(rows)
    # fell back to the floor: rows 4..9 only — the pre-floor rows are lost,
    # loudly, exactly like the reference
    assert len(rows) == 6
    # the end offset accounts for where the fallback fetch actually started
    # (floor 4 + 6 rows = 10), so the next batch does NOT republish rows 6..9
    assert end["pos"] == 10
    rows2, end2 = reader.read(end)
    assert list(rows2) == []
    assert end2["pos"] == 10
    # replay of the committed fallback range is bounded by the offset range
    again = list(reader.readBetweenOffsets({"pos": 0, "resolved": "0.0,0"}, end))
    assert len(again) == 6


def test_streaming_checkpoint_resume(spark, tmp_path):
    """Stop the query, extend the feed, restart with the same checkpoint:
    the source resumes from the committed offset (reference cursor-resume
    semantics, main.rs:136-148, via Spark's offset log)."""
    import json as _json

    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    feed = str(tmp_path / "feed.jsonl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_feed(feed, 10, 5)
    register(spark)

    def start():
        sdf = (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("batch_limit", "4")
            .load()
        )
        return run_pipeline(sdf, out, ckpt)

    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(DirQueue.read_all(out)) == 8  # 10 rows - 2 resolved

    write_feed(feed, 20, 5)  # extend recording: 10 new rows (2 resolved)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    msgs = DirQueue.read_all(out)
    # resumed from the committed offset: 8 new envelopes appended, the first
    # 10 feed rows were NOT replayed
    assert len(msgs) == 16
    ids = sorted(int(_json.loads(m)["key"][1:-1]) for m in msgs)
    assert ids == [i for i in range(20) if i % 5 != 0]


def test_streaming_end_to_end(spark, tmp_path):
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 20, 5)
    register(spark)
    sdf = (
        spark.readStream.format("crdb_changefeed")
        .option("replay", feed)
        .option("batch_limit", "7")
        .load()
    )
    from crdb_changefeed_publisher_spark.operators.changefeed import changefeed_pipeline

    # Python simple stream readers don't support availableNow (Spark falls
    # back to one batch); run real micro-batches and drain.
    envelopes, _ = changefeed_pipeline(sdf)
    q = envelopes.writeStream.format("memory").queryName("cf_env").start()
    q.processAllAvailable()
    q.stop()
    got = [r.envelope for r in spark.sql("select envelope from cf_env").collect()]
    assert len(got) == 16  # 20 - 4 resolved
    assert json.loads(got[0])["table"] == "t"


def test_partitioned_reader_plans_ordered_ranges(tmp_path):
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        ChangefeedPartitionedStreamReader,
    )

    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 100, 10)
    r = ChangefeedPartitionedStreamReader({"replay": feed, "read_partitions": "4"})
    assert r.initialOffset() == {"pos": 0}
    end = r.latestOffset()
    assert end == {"pos": 100}
    parts = r.partitions({"pos": 0}, end)
    # contiguous, ordered, covering ranges (split points are byte-balanced,
    # so exact line bounds may drift one line from equal quarters)
    assert len(parts) == 4
    assert parts[0].start_line == 0 and parts[-1].end_line == 100
    for a, b in zip(parts, parts[1:]):
        assert a.end_line == b.start_line
    sizes = [p.end_line - p.start_line for p in parts]
    assert all(20 <= s <= 30 for s in sizes)
    rows = [row for p in parts for row in r.read(p)]
    assert len(rows) == 100
    # executor read equals a naive full read, in order
    with open(feed, encoding="utf-8") as f:
        naive = [json.loads(line) for line in f]
    assert [x[0] for x in rows] == [w[0] for w in naive]

    # latestOffset always reports ALL available lines: a stateful cap
    # would forget the committed position across checkpoint restarts and
    # could hand Spark an offset behind the checkpoint (batch_limit is a
    # simple-reader option, ignored here)
    r2 = ChangefeedPartitionedStreamReader(
        {"replay": feed, "read_partitions": "4", "batch_limit": "30"}
    )
    assert r2.latestOffset() == {"pos": 100}
    assert r2.latestOffset() == {"pos": 100}

    # GC floor clamps the batch start (reference ignore_cursor parity)
    r3 = ChangefeedPartitionedStreamReader(
        {"replay": feed, "read_partitions": "2", "gc_floor": "40"}
    )
    r3.latestOffset()
    parts = r3.partitions({"pos": 0}, {"pos": 100})
    assert parts[0].start_line == 40
    assert sum(p.end_line - p.start_line for p in parts) == 60


def test_partitioned_range_planner_balances_bytes_under_skew(tmp_path, monkeypatch):
    """A feed with 100x line-length skew (fat JSON values up front) must
    still produce byte-balanced ranges: equal LINE counts would give the
    first executor ~100x the I/O of the last (the straggler a uniform-line
    assumption creates at scale). Every cut is the first line that starts
    at or after its byte target, for 1-7 ranges and for batches spanning
    less and more than one index stride."""
    import bisect

    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        ChangefeedPartitionedStreamReader,
    )

    feed = str(tmp_path / "skew.jsonl")
    with open(feed, "w", encoding="utf-8") as f:
        for i in range(400):
            fat = "x" * (2000 if i < 100 else 20)  # first quarter is ~100x fatter
            f.write(json.dumps(["t", f"[{i}]", json.dumps({"after": {"v": fat}})]) + "\n")
    with open(feed, "rb") as f:
        offs = [0]  # true byte offset of every line start, then EOF
        while f.readline():
            offs.append(f.tell())
    with open(feed, encoding="utf-8") as f:
        naive = [json.loads(line) for line in f]

    monkeypatch.setattr(crdb_changefeed, "INDEX_STRIDE", 4)  # many strides
    batches = [(0, 400), (50, 250), (98, 101), (5, 7), (0, 3), (399, 400)]
    for n in range(1, 8):
        r = ChangefeedPartitionedStreamReader({"replay": feed, "read_partitions": str(n)})
        assert r.latestOffset() == {"pos": 400}
        for s, e in batches:
            parts = r.partitions({"pos": s}, {"pos": e})
            assert len(parts) == max(min(n, e - s), 1)
            assert parts[0].start_line == s and parts[-1].end_line == e
            for a, b in zip(parts, parts[1:]):
                assert a.end_line == b.start_line
            sb, span = offs[s], offs[e] - offs[s]
            for i, p in enumerate(parts):
                assert p.start_byte == offs[p.start_line], (n, s, e, i)
                if i:
                    target = sb + span * i // len(parts)
                    assert p.start_line == bisect.bisect_left(offs, target), (n, s, e, i)
            # rows read exactly once, in order
            rows = [row for p in parts for row in r.read(p)]
            assert [x[1].decode() for x in rows] == [w[1] for w in naive[s:e]]
        # equal-line split of the whole feed would give spans like
        # [203k, 9k, 9k, 9k]; the byte cuts keep every range near the mean
        parts = r.partitions({"pos": 0}, {"pos": 400})
        spans = [offs[p.end_line] - offs[p.start_line] for p in parts]
        assert max(spans) <= 2.0 * sum(spans) / len(spans), (n, spans)
        # index memory is strided, not per-line
        assert len(r.index.stride_bytes) == 400 // 4 + 1


def test_partitioned_is_default_for_recorded_feeds():
    """A file-backed feed uses the executor-parallel reader unless
    batch_limit (a simple-reader knob) is set; live mode is always serial
    (one changefeed cursor)."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        CrdbChangefeedDataSource,
    )

    def src(opts):
        return CrdbChangefeedDataSource(opts)

    assert src({"replay": "/tmp/f.jsonl"})._use_partitioned()
    assert src({"replay": "/tmp/f.jsonl", "epoch_rows": "100"})._use_partitioned()
    assert not src({"replay": "/tmp/f.jsonl", "batch_limit": "100"})._use_partitioned()
    assert not src({"table": "foo"})._use_partitioned()  # live: serial cursor
    assert not src({"table": "foo", "batch_limit": "100"})._use_partitioned()


def test_partitioned_stream_matches_simple_reader(spark, tmp_path):
    """Same feed through both readers => identical published envelope sets
    (the partitioned path may interleave ranges across executors; the
    publish path's (key, seq) sort restores per-key order either way)."""
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 200, 25)
    register(spark)
    outs = {}
    for mode in ("simple", "partitioned"):
        reader = spark.readStream.format("crdb_changefeed").option("replay", feed)
        if mode == "simple":
            reader = reader.option("batch_limit", "60")
        else:
            reader = reader.option("read_partitions", "3")
        out = str(tmp_path / f"out_{mode}")
        run_pipeline(reader.load(), out, str(tmp_path / f"ckpt_{mode}"), drain_all=True)
        outs[mode] = sorted(DirQueue.read_all(out))
    assert outs["simple"] == outs["partitioned"]
    assert len(outs["simple"]) == 192  # 200 - 8 resolved rows (every 25th)


def test_partitioned_reader_checkpoint_resume(spark, tmp_path):
    """Restart with the same checkpoint after the feed grows: the
    partitioned reader must resume from the committed offset — no replay
    of published rows, no offset regression (the bug class this guards:
    a latestOffset that forgets the committed position on restart)."""
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    feed = str(tmp_path / "feed.jsonl")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    write_feed(feed, 50, 10)
    register(spark)

    def start():
        sdf = (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("read_partitions", "3")
            .load()
        )
        return run_pipeline(sdf, out, ckpt)

    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(DirQueue.read_all(out)) == 45  # 50 - 5 resolved

    write_feed(feed, 100, 10)  # extend the recording
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    msgs = DirQueue.read_all(out)
    assert len(msgs) == 90  # 45 new, zero replayed
    ids = sorted(int(json.loads(m)["key"][1:-1]) for m in msgs)
    assert ids == [i for i in range(100) if i % 10 != 0]


def test_partitioned_reader_epoch_rows_admission(tmp_path):
    """epoch_rows bounds every micro-batch, driven in Spark's clean-start
    call order: latestOffset BEFORE initialOffset, with nothing planned
    yet, so the cap must already be armed at the initial offset 0."""
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import (
        ChangefeedPartitionedStreamReader,
    )

    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 100, 10)
    r = ChangefeedPartitionedStreamReader(
        {"replay": feed, "read_partitions": "2", "epoch_rows": "30"}
    )
    e1 = r.latestOffset()
    assert e1 == {"pos": 30}
    assert r.initialOffset() == {"pos": 0}
    r.partitions({"pos": 0}, e1)
    e2 = r.latestOffset()
    assert e2 == {"pos": 60}
    r.partitions({"pos": 30}, e2)
    # drains to the end, never beyond what exists
    assert r.latestOffset() == {"pos": 90}
    r.partitions({"pos": 60}, {"pos": 90})
    assert r.latestOffset() == {"pos": 100}
    r.partitions({"pos": 90}, {"pos": 100})
    assert r.latestOffset() == {"pos": 100}  # no new data: no progress


def test_epoch_rows_bounds_clean_start_and_restarts(spark, tmp_path):
    """Through real queries: a clean start of 40 lines at epoch_rows=10 runs
    4 epochs; restarts from the checkpoint, after a full drain and after a
    crash that left one batch uncommitted in the offset log, stay bounded
    and read no committed line again (only the uncommitted batch replays)."""
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    feed = str(tmp_path / "feed.jsonl")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    register(spark)

    def run(on_batch=None):
        sdf = (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("read_partitions", "2")
            .option("epoch_rows", "10")
            .load()
        )
        q = run_pipeline(sdf, out, ckpt, drain_all=True, on_batch=on_batch)
        return [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]

    def keys():
        return sorted(int(json.loads(m)["key"][1:-1]) for m in DirQueue.read_all(out))

    def changes(lo, hi):  # change-row keys of feed lines [lo, hi)
        return [i for i in range(lo, hi) if i % 10 != 0]

    write_feed(feed, 40, 10)
    assert run() == [10, 10, 10, 10]
    assert keys() == changes(0, 40)

    write_feed(feed, 70, 10)  # restart after a committed drain
    assert run() == [10, 10, 10]
    assert keys() == changes(0, 70)

    write_feed(feed, 100, 10)
    seen = []

    def crash_second_batch(batch_id, n, resolved):
        seen.append(batch_id)
        if len(seen) == 2:  # lines [80, 90) published, epoch not committed
            raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        run(crash_second_batch)
    assert run() == [10, 10]  # replays [80, 90), then [90, 100)
    assert keys() == sorted(changes(0, 100) + changes(80, 90))


def test_line_index_first_line_at_maps_bytes_to_line_starts(tmp_path, monkeypatch):
    """first_line_at(b) is the first line starting at or after byte b: a
    byte inside a line maps to the next line, a line start to itself, and
    a byte past the indexed lines to the frontier."""
    monkeypatch.setattr(crdb_changefeed, "INDEX_STRIDE", 3)
    lines = [b"a\n", b"bbbb\n", b"cc\n", b"d\n", b"eeeeee\n", b"f\n", b"gg\n"]
    path = tmp_path / "feed.jsonl"
    path.write_bytes(b"".join(lines))
    starts = [sum(len(x) for x in lines[:i]) for i in range(len(lines))]
    idx = crdb_changefeed.LineIndex()
    with open(path, "rb") as f:
        idx.scan(f)
        assert idx.n_lines == len(lines) and idx.stride_bytes == [0, starts[3], starts[6]]
        for i, s in enumerate(starts):
            assert idx.first_line_at(f, s) == (i, s)
            if i + 1 < len(starts):
                assert idx.first_line_at(f, s + 1) == (i + 1, starts[i + 1])
        assert idx.first_line_at(f, idx.end_byte + 10) == (len(lines), idx.end_byte)


def test_line_index_counts_an_unterminated_last_line(tmp_path):
    path = tmp_path / "feed.jsonl"
    path.write_bytes(b"one\ntwo\nthree")
    idx = crdb_changefeed.LineIndex()
    got: list[bytes] = []
    with open(path, "rb") as f:
        idx.scan(f, out=got)
    assert got == [b"one\n", b"two\n", b"three"]
    assert idx.n_lines == 3 and idx.end_byte == 13 and idx.lines_read == 3


def test_replay_fetch_past_the_end_returns_no_rows(tmp_path):
    feed = str(tmp_path / "feed.jsonl")
    write_feed(feed, 10, 5)
    conn = JsonlReplayConnection(feed)
    assert len(conn.fetch(8, None, 5)) == 2  # the last two lines only
    assert conn.fetch(10, None, 5) == []
    assert conn.fetch(25, None, 5) == []
