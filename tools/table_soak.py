#!/usr/bin/env python
"""Kill+resume soak for the exactly-once parquet TABLE sink (r6 verdict
item #7): the CDC apply loop ending in a queryable lakehouse table.

Drives a recorded multi-version changefeed (keys get many updates)
through the crdb_changefeed streaming source; foreachBatch appends the
decoded change LOG to a table_sink-managed parquet table. The query is
KILLED mid-run after a table commit (the widest at-least-once window:
table committed, Spark offsets not), restarted from the same checkpoint,
and drained. Verification is against the feed itself:

  1. exactly-once LOG: committed change-row count == feed change count,
     and every (table, key, version) is unique — the replayed batch
     overwrote its own files instead of appending;
  2. correct APPLY: latest_changes() over the committed log equals the
     per-key last value computed directly from the feed file;
  3. compaction + vacuum preserve both properties while collapsing the
     per-batch file debris (the planner's natural consumer).

Prints one JSON line. ~30 s smoke: --rows 20000; scale: --rows 2000000.

Usage: python tools/table_soak.py [--rows N] [--keys K] [--epoch-rows N]
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


class SoakKill(RuntimeError):
    pass


def write_feed(path: str, n: int, n_keys: int, resolved_every: int = 1000) -> int:
    """Changefeed recording where key space wraps (i % n_keys): every key
    collects ~n/n_keys versions, so the APPLY half of the verification is
    non-trivial. value.after.v = i is the version (feed order), immune to
    micro-batch partitioning."""
    changes = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            if i % resolved_every == resolved_every - 1:
                f.write(
                    json.dumps(
                        [None, None, json.dumps({"resolved": f"{i}.0000000000,0"})]
                    )
                    + "\n"
                )
            else:
                changes += 1
                f.write(
                    json.dumps(
                        [
                            "orders",
                            f"[{i % n_keys}]",
                            json.dumps({"after": {"k": i % n_keys, "v": i}}),
                        ]
                    )
                    + "\n"
                )
    return changes


def expected_apply(path: str) -> dict[str, int]:
    """key -> last v, straight from the feed file (the oracle)."""
    out: dict[str, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            table, key, value = json.loads(line)
            if table is None:
                continue
            out[key] = json.loads(value)["after"]["v"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--keys", type=int, default=5_000)
    ap.add_argument("--resolved-every", type=int, default=1_000)
    ap.add_argument("--epoch-rows", type=int, default=0,
                    help="admission control; default rows//8 so the drain runs real multi-epoch")
    ap.add_argument("--keep", action="store_true", help="keep the work dir")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register
    from crdb_changefeed_publisher_spark.streaming import table_sink

    spark = get_spark("table-soak")
    register(spark)
    spark.sparkContext.setLogLevel("WARN")
    work = tempfile.mkdtemp(prefix="table_soak_")
    feed = os.path.join(work, "feed.jsonl")
    ckpt = os.path.join(work, "ckpt")
    root = os.path.join(work, "table")
    half = args.rows // 2
    write_feed(feed, half, args.keys, args.resolved_every)

    batches_done = [0]
    kill_at = [None]

    def apply_batch(batch_df, batch_id):
        from crdb_changefeed_publisher_spark.operators.changefeed import (
            decode_changefeed,
            split_changes,
        )

        changes, _cursors = split_changes(decode_changefeed(batch_df))
        log = changes.select(
            "table",
            "key",
            "value",
            F.get_json_object("value", "$.after.v").cast("long").alias("version"),
        )
        table_sink.write_batch(log, batch_id, root)
        batches_done[0] += 1
        if kill_at[0] is not None and batches_done[0] >= kill_at[0]:
            kill_at[0] = None
            raise SoakKill(f"injected kill after committed batch {batch_id}")

    def start():
        # NO availableNow: a Python stream source silently degrades to one
        # micro-batch under it (pipeline.run_pipeline docstring); real
        # micro-batches + processAllAvailable is the correct drain. The
        # epoch_rows cap forces a genuinely multi-epoch run so the kill
        # lands mid-stream.
        epoch_rows = args.epoch_rows or max(args.rows // 8, 1)
        r = (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
            .option("epoch_rows", str(epoch_rows))
        )
        return (
            r.load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    from pyspark.errors.exceptions.captured import StreamingQueryException

    t0 = time.time()
    # phase 1: clean drain of the first half (the first epoch after any
    # restart is unbounded by design — admission control must never
    # regress a checkpoint — so the kill needs data arriving AFTER a
    # committed epoch, i.e. the two-phase feed shape stream_soak uses)
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    # phase 2: extend the feed, kill after the first committed batch of
    # the new data (table committed, Spark offsets not — the widest
    # at-least-once window)
    n_changes = write_feed(feed, args.rows, args.keys, args.resolved_every)
    kill_at[0] = batches_done[0] + 1
    q = start()
    try:
        q.processAllAvailable()
        q.stop()
    except StreamingQueryException:
        pass
    assert kill_at[0] is None, "injected kill never fired"

    # phase 3: resume — the killed batch replays under its own id and
    # overwrites its own files
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)
    wall = time.time() - t0

    # --- verification -----------------------------------------------------
    committed = table_sink.read_committed(spark, root)
    assert committed is not None, "no committed table"
    n_log = committed.count()
    n_distinct = committed.select("table", "key", "version").distinct().count()
    assert n_log == n_changes, (n_log, n_changes)
    assert n_distinct == n_changes, (n_distinct, n_changes)

    from crdb_changefeed_publisher_spark.operators.changefeed import latest_changes

    got = {
        r.key: json.loads(r.value)["after"]["v"]
        for r in latest_changes(committed).collect()
    }
    want = expected_apply(feed)
    assert got == want, "apply mismatch"

    files_before = len(table_sink.committed_files(root))
    summary = table_sink.compact_table(spark, root, target_bytes=256 << 20)
    gone = table_sink.vacuum(root, retention_secs=0.0)
    committed2 = table_sink.read_committed(spark, root)
    assert committed2.count() == n_changes
    got2 = {
        r.key: json.loads(r.value)["after"]["v"]
        for r in latest_changes(committed2).collect()
    }
    assert got2 == want, "apply mismatch after compaction+vacuum"
    files_after = len(table_sink.committed_files(root))

    # --- layout maintenance + data skipping under the same feed ----------
    # OPTIMIZE ZORDER BY (version, parsed CDC key) — the key is a JSON
    # array string, so the clustering key is a DERIVED integer — then a
    # selective version read must prune files via manifest stats and
    # stay value-exact vs the unpruned scan.
    from pyspark.sql import functions as F

    zsum = table_sink.optimize_zorder(
        spark, root, "version",
        F.expr(r"CAST(regexp_extract(key, '\\[(\\d+)\\]', 1) AS BIGINT)"),
        bits=22, num_files=8,
    )
    assert zsum["n_rows"] == n_changes, zsum
    cut = int(n_changes * 0.9)
    where = [("version", ">", cut)]
    plan = table_sink.prune_plan(root, where)
    assert plan["skipped"] >= 1, plan
    pruned = table_sink.read_committed(spark, root, where=where)
    n_hot = 0 if pruned is None else pruned.count()
    n_hot_full = table_sink.read_committed(spark, root).filter(
        F.col("version") > cut).count()
    assert n_hot == n_hot_full, (n_hot, n_hot_full)

    # --- merge-on-read retention purge (deletion vectors) -----------------
    # DELETE the oldest 10% of versions WITHOUT rewriting data files: after
    # the z-order pass the layout is version-clustered, so manifest pruning
    # confines the delete to the few files owning the old range; the rest
    # are never opened. The applied state is invariant under a retention
    # purge of superseded versions — the strongest end-to-end check the
    # feed offers. Compaction then MATERIALIZES the vectors and vacuum
    # reclaims them.
    cut_low = int(n_changes * 0.1)
    n_old = table_sink.read_committed(spark, root).filter(
        F.col("version") <= cut_low).count()
    names_before_dv = set(
        os.path.basename(p) for p in table_sink.committed_files(root))
    dv = table_sink.delete_where(spark, root, [("version", "<=", cut_low)])
    assert dv["n_deleted"] == n_old, (dv, n_old)
    assert dv["files_skipped"] >= 1, dv
    names_after_dv = set(
        os.path.basename(p) for p in table_sink.committed_files(root))
    assert names_after_dv == names_before_dv, "delete_where rewrote data files"
    committed3 = table_sink.read_committed(spark, root)
    assert committed3.count() == n_changes - n_old
    got3 = {
        r.key: json.loads(r.value)["after"]["v"]
        for r in latest_changes(committed3).collect()
    }
    assert got3 == want, "retention purge changed the applied state"
    psum = table_sink.compact_table(spark, root, target_bytes=256 << 20)
    dv_gone = table_sink.vacuum(root, retention_secs=0.0)
    assert table_sink.read_committed(spark, root).count() == n_changes - n_old
    assert table_sink.describe_table(root)["n_deleted_rows"] == 0

    print(
        json.dumps(
            {
                "metric": "table_soak_rows_per_sec",
                "value": round(n_changes / wall, 1),
                "unit": "rows/sec",
                "rows": n_changes,
                "keys": args.keys,
                "wall_sec": round(wall, 2),
                "exactly_once_log": True,
                "apply_matches_feed": True,
                "files_before_compact": files_before,
                "files_after_compact": files_after,
                "files_vacuumed": len(gone),
                "compaction": summary,
                "zorder": zsum,
                "hot_key_prune": {
                    "files_total": plan["total"],
                    "files_skipped": plan["skipped"],
                },
                "retention_purge": {
                    "n_deleted": dv["n_deleted"],
                    "files_with_deletes": dv["files_with_deletes"],
                    "files_skipped": dv["files_skipped"],
                    "apply_invariant": True,
                    "materialized_files_rewritten": psum["files_rewritten"],
                    "dv_files_vacuumed": sum(
                        1 for n in dv_gone if n.startswith("dv-")),
                },
            }
        )
    )
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
