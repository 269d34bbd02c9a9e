"""Long-feed streaming soak (VERDICT r4 #6): record a large changefeed,
drain it through the full CDC pipeline in BOTH reader modes with a mid-run
crash and checkpoint resume, and report rows/s + at-least-once accounting.

Per mode the soak runs three phases against one checkpoint:

1. **warm drain** — first half of the feed, clean `--once` drain.
2. **crash** — the second half is appended, the query restarts, and a
   fault is injected at the end of the first micro-batch that publishes
   rows: the epoch has PUBLISHED but not COMMITTED when the query dies —
   exactly the reference's at-least-once window between MQ publish and
   cursor persist (src/main.rs:226-235).
3. **resume** — restart from the same checkpoint, drain to the end.

Accounting asserted (not just printed): every change row is published at
least once (distinct keys == change rows), the crashed epoch's rows are
published AGAIN after resume (duplicates > 0 — proof the kill landed in
the uncommitted window), and nothing beyond that epoch duplicates.

Prints one JSON line per mode:
{"metric": "cdc_soak_rows_per_sec", "mode": ..., "rows": ..., ...}

Usage: python tools/stream_soak.py [--rows 1000000] [--batch-limit 100000]
       [--read-partitions N] [--modes simple,partitioned]

Mode suffix `-idem` (e.g. --modes partitioned-idem) runs the batch-keyed
IDEMPOTENT sink instead: the crashed epoch's replay overwrites its own
previous attempt, and the harness asserts ZERO duplicates in the end
state — the exactly-once-ish recipe verified under an actual mid-run
failure.
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
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stream_bench import write_feed  # noqa: E402  (tools/ sibling)


class SoakKill(RuntimeError):
    """Injected mid-run fault."""


SOAK_TABLES = ("orders", "lineitem", "customer", "part", "supplier", "nation", "events", "region")


def run_soak(spark, feed: str, work: str, mode: str, rows: int, batch_limit: int,
             read_partitions: int, resolved_every: int, idempotent: bool = False,
             double_kill: bool = False, tables: int = 1, epoch_rows: int = 0) -> dict:
    from crdb_changefeed_publisher_spark.streaming.pipeline import run_pipeline
    from crdb_changefeed_publisher_spark.streaming.queues import DirQueue

    label = f"{mode}{'-idem' if idempotent else ''}"
    table_names = SOAK_TABLES[: max(1, tables)]
    fan_out = len(table_names) > 1
    half = rows // 2
    n_changes_first = write_feed(feed, half, resolved_every, tables=table_names)
    out_dir = os.path.join(work, f"out_{label}")
    ckpt = os.path.join(work, f"ckpt_{label}")

    def read_published() -> list[bytes]:
        """All published messages; under fan-out each table has its own
        destination directory (pipeline.publish_batch table routing)."""
        if not fan_out:
            return DirQueue.read_all(out_dir) if os.path.isdir(out_dir) else []
        out: list[bytes] = []
        for t in table_names:
            d = os.path.join(out_dir, t)
            if os.path.isdir(d):
                out.extend(DirQueue.read_all(d))
        return out

    # Per-epoch overhead: the gap between one batch body's END and the next
    # body's START within the same query run — offset planning + epoch
    # commit + scheduling, the cost the partitioned reader's planner adds
    # per epoch. Collected per phase (gaps never span a query restart).
    epoch_gaps: list[float] = []
    _last_end: list[float | None] = [None]

    def timing(batch_id: int, body_start: float, body_end: float) -> None:
        if _last_end[0] is not None:
            epoch_gaps.append(body_start - _last_end[0])
        _last_end[0] = body_end

    def new_phase() -> None:
        _last_end[0] = None

    def reader():
        r = (
            spark.readStream.format("crdb_changefeed")
            .option("replay", feed)
        )
        if mode == "simple":
            r = r.option("batch_limit", str(batch_limit))  # selects simple reader
        else:
            if read_partitions > 0:
                r = r.option("read_partitions", str(read_partitions))
            if epoch_rows > 0:
                r = r.option("epoch_rows", str(epoch_rows))
        return r.load()

    t0 = time.time()
    # phase 1: clean drain of the first half
    run_pipeline(reader(), out_dir, ckpt, drain_all=True, idempotent=idempotent,
                 fan_out_tables=fan_out, on_batch_timing=timing)
    published_phase1 = len(read_published())
    assert published_phase1 == n_changes_first, (published_phase1, n_changes_first)

    # phase 2: append the rest, crash after the first publishing epoch.
    # MESSAGES_SENT is cumulative across the whole session (all modes), so
    # the crash trigger is a delta from the value captured right here.
    from crdb_changefeed_publisher_spark.streaming.metrics import MESSAGES_SENT

    n_changes_total = write_feed(feed, rows, resolved_every, tables=table_names)
    new_phase()
    sent_before = MESSAGES_SENT.value

    def crash_once(batch_id: int, sent_total: int, resolved: list[str]) -> None:
        if sent_total > sent_before:
            raise SoakKill(f"injected kill after batch {batch_id}")

    q = run_pipeline(reader(), out_dir, ckpt, on_batch=crash_once, idempotent=idempotent,
                     fan_out_tables=fan_out, on_batch_timing=timing)
    crashed = False
    try:
        q.processAllAvailable()
    except Exception:  # noqa: BLE001 — StreamingQueryException wraps SoakKill
        crashed = True
    finally:
        try:
            q.stop()
        except Exception:  # noqa: BLE001
            pass
    assert crashed, "fault injection did not fire"
    published_at_crash = len(read_published())
    dup_window = published_at_crash - published_phase1
    assert dup_window > 0, "crashed epoch published nothing"

    # optional second failure: the resume itself crashes on its FIRST
    # publishing batch — which is exactly the replayed epoch, so the same
    # epoch fails twice in a row (the repeated-failure scenario a poison
    # batch or flaky sink produces) before the final drain succeeds
    n_kills = 1
    if double_kill:
        sent_before2 = MESSAGES_SENT.value

        def crash_again(batch_id: int, sent_total: int, resolved: list[str]) -> None:
            if sent_total > sent_before2:
                raise SoakKill(f"injected second kill after batch {batch_id}")

        new_phase()
        q2 = run_pipeline(reader(), out_dir, ckpt, on_batch=crash_again, idempotent=idempotent,
                          fan_out_tables=fan_out, on_batch_timing=timing)
        crashed2 = False
        try:
            q2.processAllAvailable()
        except Exception:  # noqa: BLE001
            crashed2 = True
        finally:
            try:
                q2.stop()
            except Exception:  # noqa: BLE001
                pass
        assert crashed2, "second fault injection did not fire"
        if not idempotent:
            # the replayed epoch published a second copy before dying
            dup_window += len(read_published()) - published_at_crash
        n_kills = 2

    # final phase: resume from the same checkpoint, drain to the end
    new_phase()
    run_pipeline(reader(), out_dir, ckpt, drain_all=True, idempotent=idempotent,
                 fan_out_tables=fan_out, on_batch_timing=timing)
    wall = time.time() - t0

    msgs = read_published()
    keys = [json.loads(m)["key"] for m in msgs]
    distinct = len(set(keys))
    dups = len(msgs) - distinct
    assert distinct == n_changes_total, (distinct, n_changes_total)
    if idempotent:
        # batch-keyed sink: the replayed epoch OVERWRITES its previous
        # attempt (same batch_id -> same files, truncated) — exactly-once
        # end state despite the crash
        assert dups == 0, (dups,)
    else:
        # at-least-once: everything delivered; exactly the crashed
        # (published, uncommitted) epoch delivered twice
        assert dups == dup_window, (dups, dup_window)
    return {
        "metric": "cdc_soak_rows_per_sec",
        "value": round(rows / wall, 1),
        "unit": "rows/sec",
        "mode": label,
        "rows": rows,
        "published": len(msgs),
        "distinct": distinct,
        "kills": n_kills,
        "replayed_after_crash": dup_window,
        "duplicates_after_resume": dups,
        "wall_sec": round(wall, 2),
        "tables": len(table_names),
        "fan_out": fan_out,
        "epochs": len(epoch_gaps) + 1,
        # planning + epoch-commit + scheduling cost between consecutive
        # batch bodies; the partitioned reader's per-epoch planner work
        # (offset index scan, byte-aware range split) lives in here
        "p95_epoch_overhead_sec": (
            round(sorted(epoch_gaps)[max(0, int(len(epoch_gaps) * 0.95) - 1)], 3)
            if epoch_gaps
            else None
        ),
        "mean_epoch_overhead_sec": (
            round(sum(epoch_gaps) / len(epoch_gaps), 3) if epoch_gaps else None
        ),
        **({"batch_limit": batch_limit} if mode == "simple" else
           {"read_partitions": read_partitions or "auto",
            **({"epoch_rows": epoch_rows} if epoch_rows else {})}),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--batch-limit", type=int, default=100_000)
    ap.add_argument("--read-partitions", type=int, default=0,
                    help="0 = reader auto (machine parallelism)")
    ap.add_argument("--resolved-every", type=int, default=1_000)
    ap.add_argument(
        "--modes",
        default="simple,partitioned",
        help="comma list; suffix a mode with -idem for the idempotent "
        "batch-keyed sink (asserts ZERO duplicates after crash+resume)",
    )
    ap.add_argument(
        "--epoch-rows", type=int, default=0,
        help="partitioned-reader admission cap: max lines per micro-batch "
        "(0 = all available)",
    )
    ap.add_argument(
        "--tables", type=int, default=1,
        help="N > 1 interleaves change rows across N tables and publishes "
        "through the fan-out sink (one destination per table)",
    )
    ap.add_argument(
        "--double-kill",
        action="store_true",
        help="crash the resume too (same epoch fails twice) before the "
        "final successful drain",
    )
    args = ap.parse_args()

    from crdb_changefeed_publisher_spark.session import get_spark
    from crdb_changefeed_publisher_spark.sources.crdb_changefeed import register

    work = tempfile.mkdtemp(prefix="stream_soak_")
    try:
        spark = get_spark("stream-soak")
        register(spark)
        for raw in args.modes.split(","):
            raw = raw.strip()
            idem = raw.endswith("-idem")
            mode = raw.removesuffix("-idem")
            feed = os.path.join(work, f"feed_{raw}.jsonl")
            print(
                json.dumps(
                    run_soak(
                        spark, feed, work, mode, args.rows,
                        args.batch_limit, args.read_partitions,
                        args.resolved_every, idempotent=idem,
                        double_kill=args.double_kill, tables=args.tables,
                        epoch_rows=args.epoch_rows,
                    )
                )
            )
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
