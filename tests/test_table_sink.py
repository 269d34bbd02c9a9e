"""Exactly-once parquet table sink (streaming/table_sink.py): the manifest
IS the commit. Covered here:

1. batch replay overwrites its own files — no duplicates;
2. a crash BETWEEN data write and manifest leaves orphans invisible to
   readers, and vacuum removes them;
3. full streaming kill+resume from a checkpoint ends with a committed
   table row-identical to the batch apply of the same feed;
4. compaction publishes its snapshot atomically, preserves rows exactly,
   composes with later streaming appends, and vacuum drops the
   superseded originals.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.streaming import table_sink
from crdb_changefeed_publisher_spark.tables import load_table


def _rows(spark, root):
    df = table_sink.read_committed(spark, root)
    return [] if df is None else sorted(
        (r.event_id, r.user_id) for r in df.select("event_id", "user_id").collect()
    )


def test_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id").limit(200)
    n1 = table_sink.write_batch(ev.repartition(4), 7, root)
    # replay of the SAME deterministic batch under the same id: files are
    # overwritten, the manifest is rewritten — the table is unchanged
    n2 = table_sink.write_batch(ev.repartition(4), 7, root)
    assert n1 == n2 == 200
    got = _rows(spark, root)
    assert len(got) == 200 and len(set(got)) == 200


def test_crash_before_manifest_is_invisible_and_vacuumable(spark, sf_dir, tmp_path):
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(100), 0, root)

    # simulate the crash window: data files for batch 1 land, manifest
    # does not (write the batch fully, then delete its manifest — the
    # file state is identical to dying between fsync(data) and the
    # manifest rename)
    table_sink.write_batch(ev.limit(150), 1, root)
    os.remove(os.path.join(root, "_commits", "batch-00000001.json"))

    assert len(_rows(spark, root)) == 100  # orphans invisible

    # a WRITER-SAFE vacuum must leave them alone: batch 1 is above the
    # committed high-water mark, indistinguishable from a live writer's
    # mid-commit batch
    assert not any(
        n.startswith("batch-00000001") for n in table_sink.vacuum(root, retention_secs=0.0)
    )
    # with the writer known dead, the crashed attempt is reclaimable
    orphans = [
        n
        for n in table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
        if n.startswith("batch-00000001")
    ]
    assert orphans  # the crashed attempt's files were reclaimed
    assert len(_rows(spark, root)) == 100  # vacuum never touches committed data

    # the replayed batch commits cleanly over its own orphan-free slot
    table_sink.write_batch(ev.limit(150), 1, root)
    assert len(_rows(spark, root)) == 250


class _Boom(RuntimeError):
    pass


def test_streaming_kill_resume_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch + checkpoint: kill the query AFTER a batch's data+
    manifest commit but BEFORE Spark commits its offsets (the widest
    at-least-once window), restart from the same checkpoint, and the
    final committed table equals the batch apply exactly."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    ev.repartition(4).write.mode("overwrite").parquet(src)
    expected = sorted((r.event_id, r.user_id) for r in ev.collect())

    killed = {"done": False}

    def apply_and_maybe_die(batch_df, batch_id):
        table_sink.write_batch(batch_df, batch_id, root)
        if batch_id == 1 and not killed["done"]:
            killed["done"] = True
            raise _Boom("injected kill after table commit, before offset commit")

    def start():
        return (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_and_maybe_die)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination()
    # restart: batch 1 replays under the same id, overwrites its own
    # files, re-commits the identical manifest; the rest drains
    q2 = start()
    assert q2.awaitTermination(600)

    assert _rows(spark, root) == expected


def test_compaction_snapshot_preserves_rows_and_composes_with_appends(
    spark, sf_dir, tmp_path
):
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    for b in range(5):
        table_sink.write_batch(
            ev.filter(F.col("event_id") % 5 == b).repartition(3), b, root
        )
    before = _rows(spark, root)
    n_files_before = len(table_sink.committed_files(root))
    assert n_files_before > 5

    summary = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert summary["covers"] == 4 and summary["generation"] == 0
    assert _rows(spark, root) == before                     # row-identical
    assert len(table_sink.committed_files(root)) < n_files_before

    # streaming appends after the snapshot stack on top of it
    extra = ev.limit(0)  # empty batch commits an empty manifest: harmless
    table_sink.write_batch(extra, 5, root)
    table_sink.write_batch(ev.limit(50).repartition(2), 6, root)
    assert len(_rows(spark, root)) == len(before) + 50

    # vacuum reclaims the superseded pre-compaction originals, readers
    # unaffected
    gone = table_sink.vacuum(root, retention_secs=0.0)
    assert any(n.startswith("batch-0000000") for n in gone)
    assert len(_rows(spark, root)) == len(before) + 50

    # a second compaction folds the appends into generation 1
    s2 = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert s2["generation"] == 1 and s2["covers"] == 6
    assert len(_rows(spark, root)) == len(before) + 50


def test_recompaction_with_no_new_batches_never_regresses_covers(
    spark, sf_dir, tmp_path
):
    """Regression (ADVICE r7 high): `covers` must come from the
    MANIFESTS' high-water batch id, not from committed data-file names.
    After one compaction the committed files are all compact-* names; a
    second compaction with no new appends used to regress covers to -1,
    un-superseding every batch manifest — duplicated rows, and
    FileNotFound once vacuum removed the superseded originals."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    for b in range(3):
        table_sink.write_batch(
            ev.filter(F.col("event_id") % 3 == b).repartition(2), b, root
        )
    before = _rows(spark, root)

    s1 = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert s1["covers"] == 2
    s2 = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert s2["generation"] == 1 and s2["covers"] == 2  # never regresses
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    assert _rows(spark, root) == before  # no dups, no missing files

    # and a third, after one more append, covers the new batch
    table_sink.write_batch(ev.limit(10).repartition(1), 3, root)
    s3 = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert s3["covers"] == 3
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    assert len(_rows(spark, root)) == len(before) + 10


def test_vacuum_spares_in_flight_batch_and_fresh_tmp(spark, sf_dir, tmp_path):
    """Regression (ADVICE r7 medium): a default vacuum run concurrently
    with a live writer must not delete a mid-commit batch's data (its
    manifest would then commit referencing missing files)."""
    import time

    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(100), 0, root)

    # simulate a live writer mid-commit: batch 1 data present, manifest
    # not yet published; plus a fresh in-progress tmp file
    table_sink.write_batch(ev.limit(50).repartition(1), 1, root)
    os.remove(os.path.join(root, "_commits", "batch-00000001.json"))
    tmp = os.path.join(root, "data", "batch-00000002-part-00000.parquet.tmp-99999")
    with open(tmp, "wb") as fh:
        fh.write(b"partial")

    gone = table_sink.vacuum(root, retention_secs=0.0)
    assert gone == []  # both survive the writer-safe vacuum
    assert os.path.exists(tmp)

    # the manifest "arrives" (writer finishes): batch 1 reads back intact
    table_sink.write_batch(ev.limit(50).repartition(1), 1, root)
    assert len(_rows(spark, root)) == 150

    # an OLD tmp file (beyond the grace period) is reclaimable by default
    os.utime(tmp, (time.time() - 7200, time.time() - 7200))
    assert os.path.basename(tmp) in table_sink.vacuum(root, retention_secs=0.0)


def test_snapshot_selection_parses_generation_as_int(tmp_path):
    """Regression (ADVICE r7 low): latest snapshot by INT generation, not
    lexicographic name — 'snapshot-1000.json' must beat 'snapshot-999.json'
    (legacy %03d names can coexist with the current %08d padding)."""
    root = str(tmp_path / "tbl")
    commits = os.path.join(root, "_commits")
    os.makedirs(commits)
    for gen, fname, files in [
        (999, "snapshot-999.json", [{"file": "compact-999-00000.parquet", "n_rows": 1, "n_bytes": 1}]),
        (1000, "snapshot-00001000.json", [{"file": "compact-00001000-00000.parquet", "n_rows": 2, "n_bytes": 2}]),
    ]:
        with open(os.path.join(commits, fname), "w") as fh:
            json.dump({"generation": gen, "covers": 5, "files": files}, fh)
    names = [os.path.basename(p) for p in table_sink.committed_files(root)]
    assert names == ["compact-00001000-00000.parquet"]


def test_as_of_batch_time_travel_and_retention_boundary(spark, sf_dir, tmp_path):
    """as_of_batch reconstructs every pre-compaction state exactly while
    the batch manifests live; after compaction the covered span is gone
    and the call names the earliest readable state instead of returning
    silently-wrong rows."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    slices = [ev.filter(F.col("event_id") % 4 == i).repartition(2) for i in range(4)]
    for b, s in enumerate(slices):
        table_sink.write_batch(s, b, root)

    def ids(df):
        return [] if df is None else sorted(r.event_id for r in df.collect())

    want_cum = []
    acc = []
    for s in slices:
        acc.extend(r.event_id for r in s.collect())
        want_cum.append(sorted(acc))
    for b in range(4):
        assert ids(table_sink.as_of_batch(spark, root, b)) == want_cum[b]
    # as-of beyond the high water == current state
    assert ids(table_sink.as_of_batch(spark, root, 99)) == want_cum[3]

    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    # pre-compaction interior states are gone; the boundary is named
    with pytest.raises(ValueError, match="compacted"):
        table_sink.as_of_batch(spark, root, 1)
    # the snapshot boundary itself still reads exactly
    assert ids(table_sink.as_of_batch(spark, root, 3)) == want_cum[3]

    # appends after the snapshot time-travel again
    extra = ev.limit(0)  # empty batch: manifest with no files
    table_sink.write_batch(extra, 4, root)
    table_sink.write_batch(slices[0], 5, root)
    assert ids(table_sink.as_of_batch(spark, root, 4)) == want_cum[3]
    assert (
        ids(table_sink.as_of_batch(spark, root, 5))
        == sorted(want_cum[3] + want_cum[0])
    )


def test_read_since_incremental_consumer_cursor(spark, sf_dir, tmp_path):
    """read_since: delta-only tailing with a checkpointable cursor — the
    rows between two high-water marks, scanning only the delta files; a
    cursor that predates the snapshot raises (deltas were compacted)."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    slices = [ev.filter(F.col("event_id") % 3 == i).repartition(2) for i in range(3)]
    table_sink.write_batch(slices[0], 0, root)

    df, hw = table_sink.read_since(spark, root, -1)
    assert hw == 0
    assert sorted(r.event_id for r in df.collect()) == sorted(
        r.event_id for r in slices[0].collect()
    )
    # no new batches: empty delta, cursor unchanged
    df2, hw2 = table_sink.read_since(spark, root, hw)
    assert df2 is None and hw2 == 0

    table_sink.write_batch(slices[1], 1, root)
    table_sink.write_batch(slices[2], 2, root)
    df3, hw3 = table_sink.read_since(spark, root, hw)
    assert hw3 == 2
    want = sorted(
        [r.event_id for r in slices[1].collect()]
        + [r.event_id for r in slices[2].collect()]
    )
    assert sorted(r.event_id for r in df3.collect()) == want

    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    # a consumer that kept up stays valid at the boundary
    dfb, hwb = table_sink.read_since(spark, root, 2)
    assert dfb is None and hwb == 2
    # a stale cursor inside the compacted span must rebase, not mis-read
    with pytest.raises(ValueError, match="compacted"):
        table_sink.read_since(spark, root, 0)


def test_table_history_metadata(spark, sf_dir, tmp_path):
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n0 = table_sink.write_batch(ev.limit(100).repartition(2), 0, root)
    n1 = table_sink.write_batch(ev.limit(150).repartition(3), 1, root)
    h = table_sink.table_history(root)
    assert [(e["kind"], e["id"], e["n_rows"]) for e in h] == [
        ("append", 0, n0),
        ("append", 1, n1),
    ]
    assert h[0]["n_files"] == 2 and h[1]["n_files"] == 3
    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    h2 = table_sink.table_history(root)
    assert [e["kind"] for e in h2] == ["compact"]
    assert h2[0]["covers"] == 1 and h2[0]["n_rows"] == n0 + n1


def test_schema_evolution_across_batches_surfaces_union_schema(
    spark, sf_dir, tmp_path
):
    """Batches gaining columns over time (the cdc_schema_evolution scenario
    arriving at the sink): committed reads surface the UNION schema with
    nulls for pre-drift files — and compaction's promoted concat preserves
    exactly that, so the table reads identically before and after."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events")
    old = ev.select("event_id", "user_id").limit(80).repartition(2)
    new = (
        ev.select("event_id", "user_id", F.col("value").alias("score"))
        .filter(F.col("event_id") % 2 == 0)
        .limit(80)
        .repartition(2)
    )
    table_sink.write_batch(old, 0, root)
    table_sink.write_batch(new, 1, root)

    df = table_sink.read_committed(spark, root)
    assert sorted(df.columns) == ["event_id", "score", "user_id"]
    # pre-drift rows read as null score; post-drift rows keep theirs
    n_old = old.count()
    assert df.filter(F.col("score").isNull()).count() == n_old
    want = sorted(
        (r.event_id, r.score) for r in new.select("event_id", "score").collect()
    )
    got = sorted(
        (r.event_id, r.score)
        for r in df.filter(F.col("score").isNotNull()).collect()
    )
    assert got == want

    # the delta read carries the new column too
    delta, hw = table_sink.read_since(spark, root, 0)
    assert hw == 1 and "score" in delta.columns

    def rows_key(t):
        return (t[0], t[1], t[2] is not None, t[2] if t[2] is not None else 0.0)

    before = sorted(
        map(tuple, df.select("event_id", "user_id", "score").collect()),
        key=rows_key,
    )
    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    after_df = table_sink.read_committed(spark, root)
    after = sorted(
        map(tuple, after_df.select("event_id", "user_id", "score").collect()),
        key=rows_key,
    )
    assert after == before


def test_read_since_tailing_maintains_exact_matview(spark, sf_dir, tmp_path):
    """Producer-consumer composition entirely on sink primitives: a
    consumer tails an append-only table with read_since and maintains a
    per-group (n, total) view incrementally, checkpointing only its
    cursor; a crash that loses the in-memory view but keeps the persisted
    (view, cursor) pair resumes exactly; the final view equals the full
    recompute over read_committed."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    slices = [
        ev.filter(F.col("event_id") % 4 == i).repartition(2) for i in range(4)
    ]

    def apply_delta(view: dict, df) -> dict:
        for r in (
            df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
            .collect()
        ):
            n0, t0 = view.get(r.event_type, (0, 0.0))
            view[r.event_type] = (n0 + r.n, t0 + r.tot)
        return view

    view: dict = {}
    cursor = -1
    # producer writes 2 batches; consumer catches up
    for b in range(2):
        table_sink.write_batch(slices[b], b, root)
    delta, cursor = table_sink.read_since(spark, root, cursor)
    view = apply_delta(view, delta)
    persisted = (dict(view), cursor)  # the consumer's durable checkpoint

    # crash: lose memory, resume from the persisted pair; producer moved on
    for b in range(2, 4):
        table_sink.write_batch(slices[b], b, root)
    view, cursor = dict(persisted[0]), persisted[1]
    delta, cursor = table_sink.read_since(spark, root, cursor)
    view = apply_delta(view, delta)

    full = {
        r.event_type: (r.n, r.tot)
        for r in table_sink.read_committed(spark, root)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    assert set(view) == set(full)
    for k in full:
        assert view[k][0] == full[k][0]
        assert abs(view[k][1] - full[k][1]) < 1e-6


def test_stats_nan_never_prunes_upper_bound(spark, tmp_path):
    """Spark orders NaN above every float, but parquet footers exclude
    NaN from min/max — a lying upper bound that Spark's own row-group
    pushdown would then use to drop NaN rows. The sink writes NaN-holding
    float columns WITHOUT footer stats, both in write_batch's part writer
    and in compaction's bin rewrite; the NaN row must survive a
    `> huge` read before and after compaction."""
    import math
    root = str(tmp_path / "tbl")
    nan = spark.createDataFrame(
        [(1, float("nan")), (2, 3.0)], "id int, x double")
    clean = spark.createDataFrame([(3, 5.0), (4, 7.0)], "id int, x double")
    table_sink.write_batch(nan.coalesce(1), 0, root)
    table_sink.write_batch(clean.coalesce(1), 1, root)

    def over_100():
        return table_sink.read_committed(spark, root).filter(
            F.col("x") > 100.0).collect()

    # NaN > 100.0 is TRUE under Spark ordering: the NaN row must appear
    rows = over_100()
    assert [r.id for r in rows] == [1] and math.isnan(rows[0].x)

    # compaction rewrites both files as one: the NaN row still survives
    res = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert res["files_rewritten"] == 2 and res["files_now"] == 1
    rows = over_100()
    assert [r.id for r in rows] == [1] and math.isnan(rows[0].x)


# --- table_changes: manifest-pruned row-level diff ---------------------------


def test_table_changes_appends_and_pruning(spark, sf_dir, tmp_path):
    """Appends between two states surface as inserts; files carried with
    identical (file, DV) prune from the diff WITHOUT being read."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(100).repartition(2), 0, root)
    table_sink.write_batch(
        ev.orderBy("event_id").limit(160).orderBy(F.col("event_id").desc()).limit(60), 1, root
    )
    diff, stats = table_sink.table_changes(spark, root, 0, 1)
    got = sorted((r.event_id, r._change_type) for r in diff.collect())
    assert all(t == "insert" for _, t in got) and len(got) == 60
    # batch-0 files carried verbatim: never scanned
    assert stats["files_carried"] == 2
    assert stats["files_scanned"] >= 1
    # identical states diff to None with zero files scanned
    none_diff, s0 = table_sink.table_changes(spark, root, 1, 1)
    assert none_diff is None and s0["files_scanned"] == 0


def test_table_changes_pre_snapshot_history_raises(spark, sf_dir, tmp_path):
    """Generation-axis states BEFORE the first snapshot are gone once the
    snapshot prunes their batch manifests: table_changes refuses rather
    than answering from a partial state."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(40), 0, root)
    summary = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    with pytest.raises(ValueError, match="pruned|compacted"):
        table_sink.table_changes(
            spark, root, (summary["covers"], summary["generation"] - 1),
            (summary["covers"], summary["generation"]),
        )


def test_table_changes_layout_rewrite_is_row_silent(spark, sf_dir, tmp_path):
    """A layout rewrite (a second compaction at a larger target after a
    first that kept every file) rewrites every byte but no row: all
    files scan (names differ) and the multiset diff is EMPTY."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(80).repartition(4), 0, root)
    table_sink.compact_table(spark, root, target_bytes=1)  # singleton bins
    summary = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    diff, stats = table_sink.table_changes(
        spark, root,
        (summary["covers"], summary["generation"] - 1),
        (summary["covers"], summary["generation"]),
    )
    assert stats["files_scanned"] > 0 and stats["files_carried"] == 0
    assert diff is not None and diff.count() == 0


def test_table_changes_absent_root_raises(spark, tmp_path):
    """Diffing against a mistyped/absent table root is an error, not an
    all-inserts diff (r8 ADVICE): _entries_as_of's None (no commit log)
    must not be conflated with a legitimately empty state."""
    import pytest

    with pytest.raises(ValueError, match="no commit log"):
        table_sink.table_changes(
            spark, str(tmp_path / "nope"), 0, 1)


# --- concurrent maintainers: optimistic commit (CAS on generation) -----------


def test_racing_maintainers_cas_no_row_lost_or_duplicated(
    spark, tmp_path, monkeypatch
):
    """Two maintainers race from the same committed generation — two
    compactions with different targets. The pair-packing one wins the
    commit; the single-file one's publish must REFUSE
    (CommitConflictError), leave the winner's result untouched, and
    succeed when recomputed on top of it (with_commit_retries). No
    committed row may be lost or duplicated at any point, and the
    loser's orphaned output files are reclaimable, like any crashed
    attempt's."""
    root = str(tmp_path / "tbl")
    for b in range(4):
        df = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)
    want = {k: k * 3 for k in range(400)}
    # room for two of the four batch files per bin, never three
    pair_target = 2 * max(
        os.path.getsize(p) for p in table_sink.committed_files(root))

    # deterministic interleave: when the big compaction reads the
    # committed state, the pair compaction runs to completion FIRST — the
    # big one then computes against a stale generation and must lose the
    # commit race
    orig_state = table_sink._committed_state
    fired = {"done": False}

    def stale_read(r):
        st = orig_state(r)
        if not fired["done"]:
            fired["done"] = True
            res = table_sink.compact_table(spark, root, target_bytes=pair_target)
            assert res["files_rewritten"] == 4 and res["files_now"] == 2
        return st

    monkeypatch.setattr(table_sink, "_committed_state", stale_read)
    with pytest.raises(table_sink.CommitConflictError, match="concurrent"):
        table_sink.compact_table(spark, root, target_bytes=1 << 30)

    # the winner's state is intact: exactly the committed rows, once each
    assert len(table_sink.committed_files(root)) == 2
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want

    # retry recomputes against the winner's generation and lands
    res = table_sink.with_commit_retries(
        lambda: table_sink.compact_table(spark, root, target_bytes=1 << 30))
    assert res["generation"] == 1  # pairs took 0, retried compact takes 1
    assert res["files_rewritten"] == 2 and res["files_now"] == 1
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want

    # the losing attempt's outputs are unreachable orphans; vacuum
    # reclaims them and the table still reads exactly
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want


def test_racing_identical_ops_one_wins(spark, tmp_path, monkeypatch):
    """Same race, same OP on both sides (two compactions): exactly one
    snapshot of the contested generation exists afterwards, and the
    loser's differently-named output files cannot have overwritten the
    winner's (per-attempt name tokens)."""
    root = str(tmp_path / "tbl")
    for b in range(2):
        df = spark.range(b * 50, (b + 1) * 50).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)

    orig_state = table_sink._committed_state
    fired = {"done": False}

    def stale_read(r):
        st = orig_state(r)
        if not fired["done"]:
            fired["done"] = True
            table_sink.compact_table(spark, root, target_bytes=1 << 30)
        return st

    monkeypatch.setattr(table_sink, "_committed_state", stale_read)
    with pytest.raises(table_sink.CommitConflictError):
        table_sink.compact_table(spark, root, target_bytes=1 << 30)
    commits = os.path.join(root, "_commits")
    assert [n for n in sorted(os.listdir(commits))
            if n.startswith("snapshot-")] == ["snapshot-00000000.json"]
    assert sorted(
        r.k for r in table_sink.read_committed(spark, root).collect()
    ) == list(range(100))


# --- replay vs concurrent maintenance (r9) -----------------------------------


def test_replay_of_snapshot_covered_batch_is_noop(spark, tmp_path):
    """A replayed batch at or below the latest snapshot's `covers` is
    permanently superseded — write_batch must commit NOTHING (no data
    files, no manifest): re-committing could resurrect compacted-away
    rows, and writing data files could shadow names a snapshot carried
    forward (the write-side half of the Delta txn-version check)."""
    root = str(tmp_path / "tbl")
    for b in range(3):
        df = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)
    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    data_before = sorted(os.listdir(os.path.join(root, "data")))
    commits_before = sorted(os.listdir(os.path.join(root, "_commits")))
    # replay batch 1 with a DIFFERENT partition split — the dangerous
    # shape: a written replay could disagree with carried-forward stats
    df = spark.range(100, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    assert table_sink.write_batch(df.repartition(3), 1, root) == 0
    assert sorted(os.listdir(os.path.join(root, "data"))) == data_before
    assert sorted(os.listdir(os.path.join(root, "_commits"))) == commits_before
    got = sorted(r.k for r in table_sink.read_committed(spark, root).collect())
    assert got == list(range(300))


def test_default_retention_shields_stale_reader_from_vacuum(spark, tmp_path):
    """r9 verdict #2: with the old eager default (retention 0), a reader
    that resolved the committed file list, then scanned after a
    compaction superseded it, raced vacuum into FileNotFound and needed
    a retry classifier. Under the 60 s DEFAULT retention window the
    superseded originals are young, vacuum spares them, and the stale
    scan succeeds with no retry. Backdating them past the window lets
    the same plain vacuum reclaim them."""
    import time

    root = str(tmp_path / "tbl")
    for b in range(3):
        df = spark.range(b * 50, (b + 1) * 50).select(F.col("id").alias("k"))
        table_sink.write_batch(df.coalesce(1), b, root)
    stale_files = table_sink.committed_files(root)  # the reader resolves

    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert table_sink.vacuum(root) == []  # default window spares everything
    # the stale reader's scan of its resolved (now-superseded) list works
    got = sorted(r.k for r in spark.read.parquet(*stale_files).collect())
    assert got == list(range(150))

    # age the originals past the window: plain vacuum reclaims the ones
    # below the committed high water (batch 2 stays — writer-safety)
    old = time.time() - 120
    for p in stale_files:
        os.utime(p, (old, old))
    gone = set(table_sink.vacuum(root))
    expect = {os.path.basename(p) for p in stale_files
              if not os.path.basename(p).startswith("batch-00000002")}
    assert expect <= gone
    got = sorted(r.k for r in table_sink.read_committed(spark, root).collect())
    assert got == list(range(150))


def test_replay_racing_compaction_midwrite_skips_manifest(spark, tmp_path,
                                                          monkeypatch):
    """TOCTOU half of the superseded-replay check (r9 ADVICE): a
    compaction that commits + prunes WHILE the replay's Spark write job
    runs must not let the replay resurrect a batch manifest the new
    snapshot already covers — the resurrected manifest would point at
    files vacuum later reclaims, breaking as_of_batch/read_since through
    it. write_batch re-checks covers immediately before the manifest
    publish and returns 0; the replay attempt's fresh data files become
    vacuum-reclaimable orphans."""
    root = str(tmp_path / "tbl")
    for b in range(3):
        df = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)

    # interleave: fire the compaction after write_batch's ENTRY covers
    # check (plan time) but before its manifest publish (post-collect)
    orig_pw = table_sink._part_writer
    fired = {"done": False}

    def racing_pw(*a, **kw):
        fn = orig_pw(*a, **kw)
        if not fired["done"]:
            fired["done"] = True
            table_sink.compact_table(spark, root, target_bytes=1 << 30)
        return fn

    monkeypatch.setattr(table_sink, "_part_writer", racing_pw)
    df = spark.range(100, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    assert table_sink.write_batch(df.coalesce(1), 1, root) == 0
    monkeypatch.setattr(table_sink, "_part_writer", orig_pw)

    commits = sorted(os.listdir(os.path.join(root, "_commits")))
    assert "batch-00000001.json" not in commits  # pruned, NOT resurrected
    got = sorted(r.k for r in table_sink.read_committed(spark, root).collect())
    assert got == list(range(300))
    # the replay's orphaned data files are reclaimed; reads stay exact
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    got = sorted(r.k for r in table_sink.read_committed(spark, root).collect())
    assert got == list(range(300))


def test_replay_never_overwrites_committed_bytes(spark, tmp_path):
    """Replay attempts write fresh uniquely-named files; the manifest
    swap is the commit. The first attempt's files stay byte-intact (a
    concurrent snapshot may have carried them forward BY NAME), become
    orphans, and writer-safe vacuum spares the high-water batch id (a
    live replay's mid-commit parts live exactly there) until a later
    batch advances it."""
    root = str(tmp_path / "tbl")
    df = spark.range(100).select(F.col("id").alias("k"))
    table_sink.write_batch(df.coalesce(1), 0, root)
    first = {os.path.basename(p) for p in table_sink.committed_files(root)}
    table_sink.write_batch(df.repartition(2), 0, root)  # replay, new split
    second = {os.path.basename(p) for p in table_sink.committed_files(root)}
    assert first.isdisjoint(second)
    data = os.path.join(root, "data")
    assert first <= set(os.listdir(data))  # originals intact as orphans
    assert sorted(
        r.k for r in table_sink.read_committed(spark, root).collect()
    ) == list(range(100))
    # writer-safe vacuum spares both attempts at bid == high_water
    assert table_sink.vacuum(root, retention_secs=0.0) == []
    # a later commit advances high_water: the stale attempt-0 orphans
    # become reclaimable even writer-safely
    table_sink.write_batch(
        spark.range(100, 150).select(F.col("id").alias("k")).coalesce(1),
        1, root)
    gone = set(table_sink.vacuum(root, retention_secs=0.0))
    assert gone == first
    assert sorted(
        r.k for r in table_sink.read_committed(spark, root).collect()
    ) == list(range(150))


def test_same_process_racing_publishes_use_distinct_tmps(tmp_path):
    """Many same-process threads racing one snapshot generation: exactly
    one wins, every loser raises CommitConflictError, and the winner's
    published bytes are intact. Pre-fix, _atomic_create_json keyed its
    durable temp by PID alone — threads SHARE a pid, so a loser could
    truncate the winner's bytes between write and link, and the loser's
    cleanup crashed on the already-moved temp (found by a 1M-row
    concurrency soak)."""
    import threading

    path = str(tmp_path / "snapshot-00000001.json")
    results = []
    barrier = threading.Barrier(8)

    def attempt(i):
        barrier.wait()
        try:
            table_sink._atomic_create_json(path, {"generation": 1, "who": i})
            results.append(("win", i))
        except table_sink.CommitConflictError:
            results.append(("lose", i))
        except Exception as exc:  # noqa: BLE001 — the pre-fix crash mode
            results.append(("err", repr(exc)))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for r in results if r[0] == "win"]
    errs = [r for r in results if r[0] == "err"]
    assert len(wins) == 1 and not errs, results
    with open(path) as fh:
        assert json.load(fh)["who"] == wins[0][1]  # intact winner bytes
    assert not [n for n in os.listdir(tmp_path) if ".tmp-" in n]  # no litter


@pytest.mark.parametrize(
    "columns, expected",
    [
        ({"id": [1, 2], "s": ["a", None]}, True),
        ({"id": [1, 2], "x": [1.5, None]}, True),
        ({"id": [1, 2], "x": [float("nan"), 3.0], "y": [1.0, 2.0]}, ["id", "y"]),
        ({"x": [float("nan"), 3.0], "y": [1.0, float("nan")], "s": ["a", "b"]}, ["s"]),
    ],
    ids=["no_floats", "float_without_nan", "one_nan_column", "every_float_has_nan"],
)
def test_nan_safe_write_statistics_omits_only_nan_float_columns(columns, expected):
    import pyarrow as pa

    assert table_sink.nan_safe_write_statistics(pa.table(columns)) == expected


def test_nan_safe_write_statistics_covers_float32():
    import pyarrow as pa

    t = pa.table({"k": pa.array([1, 2]), "f": pa.array([float("nan"), 1.0], pa.float32())})
    assert table_sink.nan_safe_write_statistics(t) == ["k"]


def test_with_commit_retries_retries_conflicts_only():
    """A lost commit race reruns the op up to `attempts` times and then
    re-raises; any other error fails the op on its first try."""
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise table_sink.CommitConflictError("lost the race")
        return "won"

    assert table_sink.with_commit_retries(flaky) == "won" and len(calls) == 3

    calls.clear()
    with pytest.raises(table_sink.CommitConflictError):
        table_sink.with_commit_retries(flaky, attempts=2)
    assert len(calls) == 2

    def broken():
        calls.append(1)
        raise OSError("disk full")

    calls.clear()
    with pytest.raises(OSError):
        table_sink.with_commit_retries(broken)
    assert len(calls) == 1


def test_absent_root_has_no_committed_state(spark, tmp_path):
    root = str(tmp_path / "never_written")
    assert table_sink.committed_files(root) == []
    assert table_sink.table_history(root) == []
    assert table_sink.read_committed(spark, root) is None
    assert table_sink.vacuum(root, retention_secs=0.0) == []
