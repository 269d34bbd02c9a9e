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


def test_stats_pruned_read_equals_full_read(spark, sf_dir, tmp_path):
    """Data skipping: manifests carry footer min/max per file; a
    predicate read opens only files whose bounds can match, and the
    result is value-identical to filter-after-full-scan."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    # three batches with DISJOINT event_id ranges -> per-file bounds
    # separate them even though every file has the same schema
    ids = sorted(r.event_id for r in ev.select("event_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    table_sink.write_batch(
        ev.filter(F.col("event_id") < cuts[0]).repartition(2), 0, root)
    table_sink.write_batch(
        ev.filter((F.col("event_id") >= cuts[0]) & (F.col("event_id") < cuts[1]))
        .repartition(2), 1, root)
    table_sink.write_batch(
        ev.filter(F.col("event_id") >= cuts[1]).repartition(2), 2, root)

    where = [("event_id", ">=", int(cuts[1]))]
    plan = table_sink.prune_plan(root, where)
    assert plan["total"] == 6 and plan["skipped"] == 4  # two batches skipped

    got = sorted(
        r.event_id
        for r in table_sink.read_committed(spark, root, where=where).collect()
    )
    want = sorted(
        r.event_id
        for r in table_sink.read_committed(spark, root)
        .filter(F.col("event_id") >= int(cuts[1])).collect()
    )
    assert got == want and len(got) > 0

    # string bounds prune too (event_type is low-cardinality: no file
    # lacks it -> nothing skipped, but equality must stay value-exact)
    w2 = [("event_type", "=", "purchase")]
    got2 = table_sink.read_committed(spark, root, where=w2).count()
    want2 = table_sink.read_committed(spark, root).filter(
        F.col("event_type") == "purchase").count()
    assert got2 == want2 > 0


def test_stats_prune_missing_column_and_all_null(spark, tmp_path):
    """Schema drift strengthens skipping: files written BEFORE a column
    existed are pruned for any predicate on it; an all-null file is
    provably unmatchable by a null-rejecting predicate."""
    root = str(tmp_path / "tbl")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    drifted = spark.createDataFrame(
        [(3, "c", 10.0), (4, "d", 20.0)], "id int, s string, score double")
    allnull = spark.createDataFrame(
        [(5, "e", None), (6, "f", None)], "id int, s string, score double")
    table_sink.write_batch(old.coalesce(1), 0, root)
    table_sink.write_batch(drifted.coalesce(1), 1, root)
    table_sink.write_batch(allnull.coalesce(1), 2, root)

    plan = table_sink.prune_plan(root, [("score", ">=", 5.0)])
    assert plan["total"] == 3 and plan["skipped"] == 2  # pre-drift + all-null
    df = table_sink.read_committed(spark, root, where=[("score", ">=", 5.0)])
    assert sorted(r.id for r in df.collect()) == [3, 4]

    # predicate on a column NO file has: every file pruned, None returned
    assert table_sink.read_committed(spark, root, where=[("nope", "=", 1)]) is None


def test_stats_survive_compaction(spark, sf_dir, tmp_path):
    """Compaction recomputes bounds for rewritten bins and carries
    singleton entries forward verbatim — pruning keeps working (and the
    result stays exact) across the snapshot boundary."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    ids = sorted(r.event_id for r in ev.select("event_id").collect())
    cut = ids[len(ids) // 2]
    lo, hi = ev.filter(F.col("event_id") < cut), ev.filter(F.col("event_id") >= cut)
    table_sink.write_batch(lo.repartition(2), 0, root)
    # compact the lo half into ONE rewritten file (its stats are the
    # executor-recomputed footer bounds, not carried manifest entries)
    res = table_sink.compact_table(spark, root, target_bytes=1 << 30)
    assert res["files_rewritten"] == 2 and res["files_now"] == 1
    # then append the hi half: a batch manifest ABOVE the snapshot
    table_sink.write_batch(hi.repartition(1), 1, root)

    with open(os.path.join(root, "_commits", "snapshot-00000000.json")) as fh:
        snap = json.load(fh)
    assert all("stats" in f and "cols" in f for f in snap["files"])

    # both directions prune exactly one side, values stay exact
    for where, want_df in (
        ([("event_id", "<", int(cut))], lo),
        ([("event_id", ">=", int(cut))], hi),
    ):
        plan = table_sink.prune_plan(root, where)
        assert plan["skipped"] == 1 and plan["total"] == 2
        got = sorted(
            r.event_id
            for r in table_sink.read_committed(spark, root, where=where).collect()
        )
        assert got == sorted(r.event_id for r in want_df.collect())

    # a re-compaction that rewrites nothing (target below every file)
    # carries ALL entries forward verbatim — stats survive unchanged
    res2 = table_sink.compact_table(spark, root, target_bytes=1)
    assert res2["files_rewritten"] == 0
    plan2 = table_sink.prune_plan(root, [("event_id", "<", int(cut))])
    assert plan2["skipped"] == 1 and plan2["total"] == 2


def test_stats_nan_never_prunes_upper_bound(spark, tmp_path):
    """Spark orders NaN above every float, but parquet footers exclude
    NaN from min/max — a lying upper bound. The sink writes NaN-holding
    float columns WITHOUT footer stats (so even Spark's own row-group
    pushdown cannot mis-prune them), and the manifest layer refuses
    max-based pruning for float kinds; the NaN row must survive a
    `> huge` read through every layer."""
    import math
    root = str(tmp_path / "tbl")
    nan = spark.createDataFrame(
        [(1, float("nan")), (2, 3.0)], "id int, x double")
    clean = spark.createDataFrame([(3, 5.0), (4, 7.0)], "id int, x double")
    table_sink.write_batch(nan.coalesce(1), 0, root)
    table_sink.write_batch(clean.coalesce(1), 1, root)

    # NaN > 100.0 is TRUE under Spark ordering: the NaN row must appear,
    # and the pruned read must equal the unpruned + filter path
    plan = table_sink.prune_plan(root, [("x", ">", 100.0)])
    assert plan["skipped"] == 0
    rows = table_sink.read_committed(
        spark, root, where=[("x", ">", 100.0)]).collect()
    assert [r.id for r in rows] == [1] and math.isnan(rows[0].x)
    full = table_sink.read_committed(spark, root).filter(
        F.col("x") > 100.0).collect()
    assert sorted(r.id for r in full) == sorted(r.id for r in rows)

    # lower-bound pruning on the clean file is still allowed and exact
    plan2 = table_sink.prune_plan(root, [("x", "<", 1.0)])
    assert plan2["skipped"] == 1  # clean file's min=5.0 proves empty
    df2 = table_sink.read_committed(spark, root, where=[("x", "<", 1.0)])
    assert df2 is None or df2.count() == 0


def test_optimize_zorder_improves_data_skipping_on_both_dims(spark, tmp_path):
    """OPTIMIZE ZORDER BY composed with manifest data skipping: after the
    clustered rewrite, predicates on EITHER dimension prune files; a
    linear sort by x clusters only x (y-predicates open everything).
    Rows are preserved exactly through the rewrite."""
    from pyspark.sql import functions as F

    n, dim = 1 << 12, 64  # x, y uniform in [0, 64)
    base = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % dim).alias("x"),
        ((F.col("id") * 2654435761) % dim).alias("y"),
    )

    def build(root, mode):
        if mode == "zorder":
            table_sink.write_batch(base.repartition(8), 0, root)
            res = table_sink.optimize_zorder(
                spark, root, "x", "y", bits=6, num_files=8)
            assert res["n_rows"] == n and res["files_now"] == 8
        else:  # linear sort by x, same file count as the z table
            table_sink.write_batch(
                base.repartitionByRange(8, "x").sortWithinPartitions("x"),
                0, root)

    zroot, lroot = str(tmp_path / "z"), str(tmp_path / "lin")
    build(zroot, "zorder")
    build(lroot, "linear")

    # exact preservation through the clustered rewrite
    got = sorted(r.rid for r in table_sink.read_committed(spark, zroot).collect())
    assert got == list(range(n))

    quarter = dim // 4
    for col in ("x", "y"):
        w = [(col, "<", quarter)]
        zplan = table_sink.prune_plan(zroot, w)
        assert zplan["skipped"] > 0, f"z-order must prune on {col}"
        zread = table_sink.read_committed(spark, zroot, where=w)
        assert zread.count() == base.filter(F.col(col) < quarter).count()
    # the linear layout prunes x but NOT y — that asymmetry is the point
    assert table_sink.prune_plan(lroot, [("x", "<", quarter)])["skipped"] > 0
    assert table_sink.prune_plan(lroot, [("y", "<", quarter)])["skipped"] == 0

    # maintenance op composes with later appends (ids above covers)
    extra = spark.range(n, n + 10).select(
        F.col("id").alias("rid"),
        F.lit(0).cast("long").alias("x"), F.lit(0).cast("long").alias("y"))
    table_sink.write_batch(extra, 1, zroot)
    assert table_sink.read_committed(spark, zroot).count() == n + 10


def test_where_pruning_on_time_travel_and_incremental_reads(spark, tmp_path):
    """The same data-skipping predicate path serves as_of_batch and
    read_since: a tailing consumer or time traveler with a selective
    predicate opens only matching delta files."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    for b in range(4):  # batch b holds ids [100b, 100b+100)
        df = spark.range(100 * b, 100 * b + 100).select(F.col("id"))
        table_sink.write_batch(df.coalesce(1), b, root)

    tt = table_sink.as_of_batch(spark, root, 2, where=[("id", ">=", 250)])
    assert sorted(r.id for r in tt.collect()) == list(range(250, 300))
    assert table_sink.as_of_batch(spark, root, 1, where=[("id", ">=", 250)]) is None

    df, hw = table_sink.read_since(spark, root, 0, where=[("id", "<", 150)])
    assert hw == 3
    assert sorted(r.id for r in df.collect()) == list(range(100, 150))
    none_df, _ = table_sink.read_since(spark, root, 1, where=[("id", "<", 150)])
    assert none_df is None  # batches 2-3 provably out of range


def test_manifest_bloom_matches_spark_bloom_build(spark):
    """The Python manifest bloom must be BIT-IDENTICAL to the Spark/SQL
    construction (operators/bloom.py) — same portable sha2 hash, same
    affine positions, same signed packing."""
    from crdb_changefeed_publisher_spark.operators import bloom as bl
    from crdb_changefeed_publisher_spark.streaming import table_stats

    vals = [f"key-{i}" for i in range(200)] + [str(i * 37) for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    want = bl.bloom_build(df, "k", m_bits=1 << 12, k=5)
    got = table_stats.bloom_words_py(vals, 1 << 12, k=5)
    assert got == want


def test_manifest_bloom_point_lookup_skipping(spark, tmp_path):
    """Point lookups on an UNCLUSTERED high-cardinality key: min/max
    bounds overlap across every file, but manifest blooms prune all
    files that cannot hold the key — and an absent key opens nothing."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    # 4 batches of hex-hashed ids: every file's lexicographic [min, max]
    # spans nearly the whole domain, so bounds never prune
    for b in range(4):
        df = spark.range(b * 500, b * 500 + 500).select(
            F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k"),
            F.col("id").alias("v"),
        )
        table_sink.write_batch(df.coalesce(1), b, root, bloom_cols=["k"])

    probe = spark.range(700, 701).select(
        F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k")
    ).collect()[0].k
    where = [("k", "=", probe)]
    plan = table_sink.prune_plan(root, where)
    assert plan["skipped"] >= 3, plan  # bounds alone would skip 0
    got = table_sink.read_committed(spark, root, where=where).collect()
    assert len(got) == 1 and got[0].v == 700

    absent = "0" * 16
    plan2 = table_sink.prune_plan(root, [("k", "=", absent)])
    # zero false negatives is the guarantee; typically all 4 prune here
    df2 = table_sink.read_committed(spark, root, where=[("k", "=", absent)])
    assert df2 is None or df2.count() == 0
    assert plan2["skipped"] >= 3

    # kind guard: '05'-style cross-kind probes must never bloom-prune
    iroot = str(tmp_path / "int")
    idf = spark.createDataFrame([(5, "five")], "c long, s string")
    table_sink.write_batch(idf.coalesce(1), 0, iroot, bloom_cols=["c"])
    got = table_sink.read_committed(spark, iroot, where=[("c", "=", "05")])
    # Spark casts '05' -> 5: the row matches, so pruning must keep it
    assert got is not None and got.count() == 1


def test_manifest_bloom_survives_compaction_and_zorder(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    for b in range(3):
        df = spark.range(b * 100, b * 100 + 100).select(
            F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k"),
            (F.col("id") % 64).alias("x"), (F.col("id") % 7).alias("y"),
        )
        table_sink.write_batch(df.coalesce(1), b, root, bloom_cols=["k"])
    table_sink.optimize_zorder(
        spark, root, "x", "y", bits=6, num_files=2, bloom_cols=["k"])

    probe = spark.range(150, 151).select(
        F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k")
    ).collect()[0].k
    got = table_sink.read_committed(spark, root, where=[("k", "=", probe)])
    assert got.count() == 1
    with open(os.path.join(root, "_commits", "snapshot-00000000.json")) as fh:
        snap = json.load(fh)
    assert all("blooms" in f and "k" in f["blooms"] for f in snap["files"])


def test_merge_upsert_copy_on_write_targets_only_affected_files(spark, tmp_path):
    """MERGE INTO: updates + deletes + new keys applied in one atomic
    snapshot; files the manifest metadata proves unaffected are carried
    forward VERBATIM (same file names), and the merged state equals the
    dict-semantics oracle."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    # 4 disjoint key-range files -> bounds alone can target the rewrite
    for b in range(4):
        df = spark.range(b * 100, b * 100 + 100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)

    updates = spark.createDataFrame(
        [(5, -1, False), (7, -2, False), (150, 0, True), (1000, 42, False)],
        "k long, v long, is_del boolean",
    )
    before = set(os.path.basename(f) for f in table_sink.committed_files(root))
    res = table_sink.merge_upsert(spark, root, updates, "k", delete_col="is_del")
    # files for batches 2 (300s) and 3: untouched (keys 5,7 hit batch 0;
    # 150 hits batch 1; 1000 hits nothing)
    assert res["files_rewritten"] == 2 and res["files_untouched"] == 2, res
    after = set(os.path.basename(f) for f in table_sink.committed_files(root))
    assert len(before & after) == 2  # the two untouched files survive by name

    want = {k: k * 10 for k in range(400)}
    want[5], want[7] = -1, -2
    del want[150]
    want[1000] = 42
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want

    # the merge snapshot composes with data skipping and later appends
    assert table_sink.read_committed(
        spark, root, where=[("k", "=", 1000)]).collect()[0].v == 42
    table_sink.write_batch(
        spark.createDataFrame([(2000, 1)], "k long, v long"), 4, root)
    assert table_sink.read_committed(spark, root).count() == len(want) + 1

    # duplicate keys in updates must be refused (LWW is the caller's job)
    with pytest.raises(ValueError, match="resolve"):
        table_sink.merge_upsert(
            spark, root,
            spark.createDataFrame([(1, 1), (1, 2)], "k long, v long"), "k")

    # a NULL merge key gets its own error, not the misleading duplicate
    # message (count_distinct ignores NULLs — r9 ADVICE)
    with pytest.raises(ValueError, match="NULL 'k' merge key"):
        table_sink.merge_upsert(
            spark, root,
            spark.createDataFrame([(None, 1), (9, 2)], "k long, v long"), "k")


def test_merge_upsert_uses_blooms_on_unclustered_keys(spark, tmp_path):
    """With overlapping bounds everywhere, only manifest blooms keep the
    rewrite targeted."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    for b in range(4):
        df = spark.range(b * 500, b * 500 + 500).select(
            F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k"),
            F.col("id").alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root, bloom_cols=["k"])

    probe = spark.range(700, 701).select(
        F.sha2(F.col("id").cast("string"), 256).substr(1, 16).alias("k")
    ).collect()[0].k
    updates = spark.createDataFrame([(probe, -700)], "k string, v long")
    res = table_sink.merge_upsert(
        spark, root, updates, "k", bloom_cols=["k"])
    assert res["files_untouched"] >= 3, res
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert len(got) == 2000 and got[probe] == -700


def test_streaming_cdc_merge_apply_kill_resume(spark, tmp_path):
    """The full CDC APPLY materialization: an upsert/delete stream is
    resolved last-writer-wins per micro-batch, then merge_upsert'd into
    a physical table — through an injected kill AFTER a merge committed
    but before Spark's offset commit. merge_upsert is idempotent by
    VALUE (re-applying the same resolved delta reaches the same state),
    so the replayed batch converges and the final table equals the
    dict-semantics apply of the whole feed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "tbl")

    # feed: versions 0..999 over 50 keys; key k deleted when the last
    # write for it has version % 7 == 0
    n, keys = 1000, 50
    feed = spark.range(n).select(
        F.col("id").alias("ver"),
        (F.col("id") % keys).alias("k"),
        (F.col("id") * 3).alias("v"),
        ((F.col("id") % 7) == 0).alias("is_del"),
    )
    feed.orderBy("ver").coalesce(1).write.parquet(src + "/p0")
    # four more waves as separate files -> multiple micro-batches
    for w in range(1, 5):
        spark.range(n * w, n * (w + 1)).select(
            F.col("id").alias("ver"),
            (F.col("id") % keys).alias("k"),
            (F.col("id") * 3).alias("v"),
            ((F.col("id") % 7) == 0).alias("is_del"),
        ).coalesce(1).write.parquet(src + f"/p{w}")

    killed = {"done": False}

    def apply(batch_df, batch_id):
        # LWW within the batch on the feed's version column
        w = Window.partitionBy("k").orderBy(F.col("ver").desc())
        resolved = (
            batch_df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r", "ver")
        )
        table_sink.merge_upsert(spark, root, resolved, "k",
                                delete_col="is_del")
        if batch_id == 1 and not killed["done"]:
            killed["done"] = True
            raise RuntimeError("injected kill after merge commit")

    def start():
        sdf = (
            spark.readStream.schema("ver long, k long, v long, is_del boolean")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/p*")
        )
        return (
            sdf.writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination()
    q2 = start()
    assert q2.awaitTermination(600)

    # dict-semantics oracle over the full feed in version order
    want = {}
    for ver in range(5 * n):
        k = ver % keys
        if ver % 7 == 0:
            want.pop(k, None)
        else:
            want[k] = ver * 3
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want


def test_history_op_kinds_and_vacuum_after_merge(spark, tmp_path):
    """The commit log distinguishes compact / zorder / merge snapshots,
    and vacuum reclaims the pre-merge originals of rewritten files while
    untouched files stay."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    for b in range(2):  # disjoint ranges: merge will touch only file 0
        df = spark.range(b * 100, b * 100 + 100).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)
    table_sink.merge_upsert(
        spark, root,
        spark.createDataFrame([(5, -5)], "k long, v long"), "k")
    table_sink.optimize_zorder(
        spark, root, "k", "v", bits=8, num_files=1)

    kinds = [h["kind"] for h in table_sink.table_history(root)]
    assert kinds.count("merge") == 1 and kinds.count("zorder") == 1

    gone = table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    # batch 0's original was rewritten by the merge; batch 1's file was
    # carried into the merge snapshot by name, then superseded by zorder
    assert any(n.startswith("batch-00000000") for n in gone)
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    want = {k: k for k in range(200)}
    want[5] = -5
    assert got == want


def test_describe_table_from_manifests_only(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    table_sink.write_batch(
        spark.range(100).select(F.col("id").alias("k")), 0, root)
    table_sink.write_batch(
        spark.range(100, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")), 1, root)
    d = table_sink.describe_table(root)
    assert d["n_rows"] == 200 and d["high_water_batch"] == 1
    assert d["columns"]["k"]["min"] == 0 and d["columns"]["k"]["max"] == 199
    # v exists only in batch 1: bounds fold over files containing it, and
    # batch 0's 100 rows count as all-null for it (the schema-drift read)
    assert d["columns"]["v"]["min"] == 200 and d["columns"]["v"]["max"] == 398
    assert d["columns"]["v"]["nulls"] == 100
    assert d["columns"]["v"]["n_files_with"] < d["n_files"]


def test_write_time_check_constraints_refuse_atomically(spark, tmp_path):
    """Delta-style CHECK constraints at the commit boundary: a violating
    batch raises, publishes NO manifest, and leaves the committed table
    untouched (partial part files are vacuumable orphans); the corrected
    batch commits under the same id."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    cons = [("v", "not_null"), ("v", "range", 0, 100),
            ("tag", "isin", ["a", "b"])]
    ok = spark.createDataFrame([(1, 5, "a"), (2, 100, "b")],
                               "k long, v long, tag string")
    table_sink.write_batch(ok, 0, root, constraints=cons)

    bad_range = spark.createDataFrame([(3, 101, "a")], "k long, v long, tag string")
    bad_null = spark.createDataFrame([(3, None, "a")], "k long, v long, tag string")
    bad_isin = spark.createDataFrame([(3, 5, "z")], "k long, v long, tag string")
    for bad in (bad_range, bad_null, bad_isin):
        with pytest.raises(Exception):
            table_sink.write_batch(bad.repartition(2), 1, root,
                                   constraints=cons)
        assert table_sink.read_committed(spark, root).count() == 2

    # nulls satisfy range/isin (SQL CHECK semantics) when not_null is off
    nullok = spark.createDataFrame([(3, None, None)], "k long, v long, tag string")
    table_sink.write_batch(nullok, 1, root,
                           constraints=[("v", "range", 0, 100),
                                        ("tag", "isin", ["a", "b"])])
    assert table_sink.read_committed(spark, root).count() == 3
    # the refused attempts' orphans are reclaimable
    table_sink.vacuum(root, assume_quiesced=True, retention_secs=0.0)
    assert table_sink.read_committed(spark, root).count() == 3


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


def test_table_changes_sees_deletes_and_scans_only_touched_files(
    spark, sf_dir, tmp_path
):
    """A DV point delete surfaces exactly the deleted rows as 'delete'
    rows, scanning only the file pair whose DV state changed."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # two well-separated files so stats prune cleanly; a first compaction
    # pins generation 0 (snapshots are never pruned, so generation-axis
    # history starts at the first snapshot — the retention contract)
    lo = ev.filter(F.col("event_id") < 50)
    hi = ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 100))
    assert hi.count() > 0  # ranges exist at every fixture SF
    table_sink.write_batch(lo.coalesce(1), 0, root)
    table_sink.write_batch(hi.coalesce(1), 1, root)
    table_sink.compact_table(spark, root, target_bytes=1)  # singleton bins
    res = table_sink.delete_where(spark, root, [("event_id", "<", 10)])
    assert res["n_deleted"] > 0 and res["files_with_deletes"] == 1
    # maintenance keeps the batch high-water; the two sides of the delete
    # are addressed on the GENERATION axis
    diff, stats = table_sink.table_changes(
        spark, root,
        (res["covers"], res["generation"] - 1),
        (res["covers"], res["generation"]),
    )
    got = sorted((r.event_id, r._change_type) for r in diff.collect())
    assert all(t == "delete" and eid < 10 for eid, t in got)
    assert len(got) == res["n_deleted"]
    # only the DV-touched file scanned — on BOTH sides of the diff (old
    # DV state vs new), the untouched file carries
    assert stats["files_scanned"] == 2
    assert stats["files_carried"] == 1


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
    """A layout maintenance pass (OPTIMIZE ZORDER after the first
    compaction) rewrites every byte but no row: all files scan (names
    differ) and the multiset diff is EMPTY."""
    root = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    table_sink.write_batch(ev.limit(80).repartition(4), 0, root)
    table_sink.compact_table(spark, root, target_bytes=1 << 30)
    summary = table_sink.optimize_zorder(
        spark, root, "event_id", "user_id", num_files=2
    )
    diff, stats = table_sink.table_changes(
        spark, root,
        (summary["covers"], summary["generation"] - 1),
        (summary["covers"], summary["generation"]),
    )
    assert stats["files_scanned"] > 0 and stats["files_carried"] == 0
    assert diff is not None and diff.count() == 0


# --- concurrent maintainers: optimistic commit (CAS on generation) -----------


def test_racing_maintainers_cas_no_row_lost_or_duplicated(
    spark, tmp_path, monkeypatch
):
    """Two maintainers race from the same committed generation — a
    compaction and a merge (r8 verdict #4). The merge wins the commit;
    the compaction's publish must REFUSE (CommitConflictError), leave
    the winner's result untouched byte-for-byte, and succeed when
    recomputed on top of it (with_commit_retries). No committed row may
    be lost or duplicated at any point, and the loser's orphaned output
    files are reclaimable, like any crashed attempt's."""
    root = str(tmp_path / "tbl")
    for b in range(3):
        df = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        table_sink.write_batch(df.coalesce(1), b, root)

    updates = spark.createDataFrame(
        [(50, 999), (1000, 1000)], "k long, v long")
    want = {k: k * 3 for k in range(300)}
    want[50] = 999
    want[1000] = 1000

    # deterministic interleave: when the compaction reads the committed
    # state, the merge runs to completion FIRST — the compaction then
    # computes against a stale generation and must lose the commit race
    orig_state = table_sink._committed_state
    fired = {"done": False}

    def stale_read(r):
        st = orig_state(r)
        if not fired["done"]:
            fired["done"] = True
            table_sink.merge_upsert(spark, root, updates, "k")
        return st

    monkeypatch.setattr(table_sink, "_committed_state", stale_read)
    with pytest.raises(table_sink.CommitConflictError, match="concurrent"):
        table_sink.compact_table(spark, root, target_bytes=1 << 30)

    # the winner's state is intact: exactly the merged rows, once each
    got = {r.k: r.v for r in table_sink.read_committed(spark, root).collect()}
    assert got == want

    # retry recomputes against the winner's generation and lands
    res = table_sink.with_commit_retries(
        lambda: table_sink.compact_table(spark, root, target_bytes=1 << 30))
    assert res["generation"] == 1  # merge took 0, retried compact takes 1
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
    cleanup crashed on the already-moved temp (found by
    tools/table_race_soak.py at 1M rows)."""
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
