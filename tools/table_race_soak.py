#!/usr/bin/env python
"""Concurrency soak for the table sink's optimistic-commit protocol
(round-9 backlog #2): a LIVE streaming appender racing MULTIPLE
maintainer threads (compact / delete / z-order / writer-safe vacuum)
with real jitter, plus a mid-run writer kill+resume so a batch REPLAY
lands while maintenance is mutating the table underneath it.

What this exercises that the deterministic unit races cannot:

  * maintainer-vs-maintainer CAS conflicts under load — a per-round
    barrier makes two maintainers read the same committed generation,
    so exactly one wins each contested publish and the loser's
    with_commit_retries recompute must land on top (conflicts are
    COUNTED and asserted > 0);
  * maintainer-vs-appender interleavings at every phase: snapshots
    publishing between batch commits, covers advancing past a batch the
    writer is about to replay (the write-side supersede check), vacuum
    running while the writer is mid-commit (the bid >= high_water
    writer-safe guard) and while maintenance attempts are in flight
    (the dv-/compact- gen guard);
  * a concurrent READER resolving the committed state mid-maintenance —
    under the engine-default retention window (60 s) stale-snapshot
    scans NEVER race vacuum: the soak runs the reader with no retry
    classifier and asserts zero retries (r9 verdict #2). An explicit
    `--retention` override exercises the old race + retry contract.

End-state verification is against the feed itself, exactly like
tools/table_soak.py: committed log == feed changes minus the retention
purge (computed independently from the feed file), every
(table, key, version) unique, and latest_changes() == per-key last
value from the feed (old-version deletes leave apply invariant).

Prints one JSON line. Smoke: --rows 20000; scale: --rows 1000000.

Usage: python tools/table_race_soak.py [--rows N] [--keys K]
           [--maintainers M] [--no-kill] [--retention SECS]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.table_soak import SoakKill, expected_apply, write_feed  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--keys", type=int, default=5_000)
    ap.add_argument("--resolved-every", type=int, default=1_000)
    ap.add_argument("--maintainers", type=int, default=2)
    ap.add_argument("--no-kill", action="store_true",
                    help="skip the mid-run writer kill+resume")
    ap.add_argument("--retention", type=float, default=None,
                    help="vacuum retention_secs override — files younger "
                         "than this survive writer-safe vacuum, bounding "
                         "the stale-resolved-state race (Delta's retention "
                         "window). Default None = the engine default "
                         "(60 s), under which plain readers need NO retry "
                         "classifier and the soak asserts zero reader "
                         "retries + zero maintainer stale-scan retries. "
                         "Pass an explicit small value (or 0 = eager) to "
                         "exercise the race + retry contract instead")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators.changefeed import (
        decode_changefeed,
        latest_changes,
        split_changes,
    )
    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming import table_sink

    spark = get_spark("table-race-soak")
    register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="table_race_")
    feed = os.path.join(work, "feed.jsonl")
    ckpt = os.path.join(work, "ckpt")
    root = os.path.join(work, "table")
    # two-phase feed (the stream_soak shape): the first epoch after any
    # (re)start is unbounded by design, so bounded multi-epoch streaming
    # — which the kill and the maintainer interleavings need — only
    # happens on data arriving AFTER a committed epoch
    half = args.rows // 2
    write_feed(feed, half, args.keys, args.resolved_every)
    n_changes = None  # final count set when the feed is extended
    # retention purge target: the oldest ~5% of versions. Computed from
    # the feed (the oracle), not from op return values — retries and
    # stacked deletes make op-sum accounting ambiguous by design.
    cut_low = int(args.rows * 0.05)
    n_old = sum(1 for i in range(args.rows)
                if i % args.resolved_every != args.resolved_every - 1
                and i <= cut_low)

    batches_done = [0]
    kill_at = [None]

    def apply_batch(batch_df, batch_id):
        changes, _ = split_changes(decode_changefeed(batch_df))
        log = changes.select(
            "table", "key", "value",
            F.get_json_object("value", "$.after.v").cast("long").alias("version"),
        )
        table_sink.write_batch(log, batch_id, root)
        batches_done[0] += 1
        if kill_at[0] is not None and batches_done[0] >= kill_at[0]:
            kill_at[0] = None
            raise SoakKill(f"injected kill after committed batch {batch_id}")

    def start():
        # real multi-epoch drain: epoch_rows caps admission so snapshots
        # and batch commits interleave many times per run
        epoch_rows = max(args.rows // 16, 1)
        return (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("epoch_rows", str(epoch_rows))
            .load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    stop = threading.Event()
    barrier = threading.Barrier(max(args.maintainers, 1))
    stats_lock = threading.Lock()
    stats = {"conflicts": 0, "stale_scan_retries": 0,
             "ops": {"compact": 0, "delete": 0, "zorder": 0, "vacuum": 0},
             "reader_retries": 0, "reader_reads": 0, "maintainer_errors": [],
             "reader_errors": []}
    # under the engine-default retention window readers and maintainers
    # must never see a vacuumed file at all — FileNotFound is then a BUG,
    # not a retryable race (r9 verdict #2)
    default_retention = args.retention is None

    def _is_stale_scan(exc) -> bool:
        # a resolved-then-vacuumed file: the op re-reads the committed
        # state on retry (the same client contract as Delta after a
        # too-eager VACUUM; --retention bounds how often this can fire).
        # Both spellings: the JVM scan raises FileNotFoundException, a
        # pyarrow executor task (delete_where's DV reads) raises Python's
        # FileNotFoundError.
        s = str(exc)
        return ("FileNotFoundException" in s or "FileNotFoundError" in s
                or "does not exist" in s)
    zcol = F.expr(r"CAST(regexp_extract(key, '\\[(\\d+)\\]', 1) AS BIGINT)")

    def run_op(kind):
        # with_commit_retries, instrumented: count every lost CAS
        for attempt in range(6):
            try:
                if kind == "compact":
                    table_sink.compact_table(spark, root, target_bytes=64 << 20)
                elif kind == "delete":
                    table_sink.delete_where(
                        spark, root, [("version", "<=", cut_low)])
                elif kind == "zorder":
                    table_sink.optimize_zorder(
                        spark, root, "version", zcol, bits=22, num_files=4)
                with stats_lock:
                    stats["ops"][kind] += 1
                return
            except table_sink.CommitConflictError:
                with stats_lock:
                    stats["conflicts"] += 1
            except Exception as exc:  # noqa: BLE001
                if default_retention or not _is_stale_scan(exc):
                    raise
                with stats_lock:
                    stats["stale_scan_retries"] += 1
        raise table_sink.CommitConflictError(f"{kind}: lost 6 straight races")

    def maintainer(idx):
        kinds = ["compact", "delete", "zorder"]
        i = idx  # offset so two maintainers usually contest DIFFERENT ops
        while not stop.is_set():
            time.sleep(random.uniform(0.2, 0.8))
            try:
                barrier.wait(timeout=10)  # force a same-generation read
            except threading.BrokenBarrierError:
                barrier.reset()
            try:
                if table_sink.read_committed(spark, root) is None:
                    continue  # nothing committed yet
            except Exception as exc:  # noqa: BLE001
                if default_retention or not _is_stale_scan(exc):
                    raise
                with stats_lock:
                    stats["stale_scan_retries"] += 1
                continue
            try:
                run_op(kinds[i % len(kinds)])
                gone = table_sink.vacuum(
                    root,
                    **({} if default_retention
                       else {"retention_secs": args.retention}),
                )
                with stats_lock:
                    stats["ops"]["vacuum"] += len(gone)
            except Exception as exc:  # noqa: BLE001 — soak: record, don't die
                with stats_lock:
                    stats["maintainer_errors"].append(f"{type(exc).__name__}: {exc}")
            i += 1

    def reader():
        # a PLAIN client, no retry classifier: under the engine-default
        # retention window a resolved-then-vacuumed scan must be
        # impossible, so any failure is recorded as a reader ERROR and
        # fails the soak. With an explicit --retention override the old
        # contract applies: re-resolve and retry — never wrong, at worst
        # late
        while not stop.is_set():
            time.sleep(random.uniform(0.3, 0.9))
            for _ in range(4):
                try:
                    df = table_sink.read_committed(spark, root)
                    if df is not None:
                        df.count()
                    with stats_lock:
                        stats["reader_reads"] += 1
                    break
                except Exception as exc:  # noqa: BLE001
                    with stats_lock:
                        if default_retention:
                            stats["reader_errors"].append(
                                f"{type(exc).__name__}: {exc}")
                            break
                        stats["reader_retries"] += 1

    threads = [threading.Thread(target=maintainer, args=(i,), daemon=True)
               for i in range(args.maintainers)]
    threads.append(threading.Thread(target=reader, daemon=True))

    t0 = time.time()
    # phase 1: clean drain of the first half (one unbounded epoch);
    # maintainers are live from the first commit
    q = start()
    for t in threads:
        t.start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    # phase 2: extend the feed — now epochs are epoch_rows-bounded, so
    # batch commits and snapshots interleave many times
    n_changes = write_feed(feed, args.rows, args.keys, args.resolved_every)
    if not args.no_kill:
        kill_at[0] = batches_done[0] + 2  # mid-phase-2, after 2 commits
        q = start()
        try:
            q.processAllAvailable()
            q.stop()
        except StreamingQueryException:
            pass
        assert kill_at[0] is None, "injected kill never fired"
    q = start()  # replay (if killed) lands while maintainers keep mutating
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    stop.set()
    for t in threads:
        t.join(timeout=30)
    wall = time.time() - t0

    # final maintenance: one clean compact (retry-wrapped: a straggler
    # thread may still contest) + quiesced vacuum
    table_sink.with_commit_retries(
        lambda: table_sink.compact_table(spark, root, target_bytes=256 << 20))
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)

    # --- verification ------------------------------------------------------
    assert not stats["maintainer_errors"], stats["maintainer_errors"]
    assert not stats["reader_errors"], stats["reader_errors"]
    if default_retention:
        # the whole point of the 60 s default (r9 verdict #2): nobody —
        # plain reader or maintainer scan — ever needed a retry
        assert stats["reader_retries"] == 0, stats["reader_retries"]
        assert stats["stale_scan_retries"] == 0, stats["stale_scan_retries"]
    if args.maintainers >= 2:
        assert stats["conflicts"] >= 1, "barriered maintainers never conflicted"

    committed = table_sink.read_committed(spark, root)
    assert committed is not None
    n_log = committed.count()
    n_distinct = committed.select("table", "key", "version").distinct().count()
    # deletes may or may not have caught every old row before the final
    # compact materialized them — but every delete op that committed did
    # so exactly; recompute the expected set from what was ACTUALLY
    # deleted (describe_table after materialization: 0 DV rows, so the
    # deleted set is whatever is absent from the log below cut_low)
    n_low_present = committed.filter(F.col("version") <= cut_low).count()
    assert n_log == n_changes - (n_old - n_low_present), (
        n_log, n_changes, n_old, n_low_present)
    assert n_distinct == n_log, (n_distinct, n_log)
    if stats["ops"]["delete"] >= 1:
        # at least one delete committed before the last batch arrived; it
        # removed every then-committed old row. If one ALSO ran after the
        # final epoch, the purge is complete.
        assert n_low_present < n_old or n_old == 0

    got = {r.key: json.loads(r.value)["after"]["v"]
           for r in latest_changes(committed).collect()}
    want = expected_apply(feed)
    assert got == want, "apply mismatch: maintenance changed the applied state"

    print(json.dumps({
        "metric": "table_race_soak_rows_per_sec",
        "value": round(n_changes / wall, 1),
        "unit": "rows/sec",
        "rows": n_changes,
        "keys": args.keys,
        "wall_sec": round(wall, 2),
        "maintainers": args.maintainers,
        "kill_resume": not args.no_kill,
        "cas_conflicts": stats["conflicts"],
        "stale_scan_retries": stats["stale_scan_retries"],
        "ops_committed": stats["ops"],
        "reader_reads": stats["reader_reads"],
        "reader_retries": stats["reader_retries"],
        "rows_purged": n_old - n_low_present,
        "exactly_once_log": True,
        "apply_matches_feed": True,
    }))
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
