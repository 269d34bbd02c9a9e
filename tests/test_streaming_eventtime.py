"""Structured Streaming event-time operator coverage over the events
fixture: tumbling windows + watermark, session windows, watermark-scoped
dedup, and a custom stateful operator via applyInPandasWithState.

These are the streaming twins of the batch queries in plans/events.py —
the reference has no event-time surface at all (SURVEY §2.2), so these
demonstrate the north-star streaming extension end to end.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crdb_changefeed_publisher_spark.tables import load_table


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").coalesce(4).write.mode("overwrite").parquet(d)
    return d


def read_stream(spark, d):
    return spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(d)


def drain(query):
    query.processAllAvailable()
    query.stop()


def await_done(query, timeout=600):
    # availableNow queries terminate on their own; a silent timeout would
    # assert on partial results, so fail loudly instead
    assert query.awaitTermination(timeout), "streaming query did not finish"



def test_tumbling_window_with_watermark(spark, sf_dir, events_stream_dir):
    sdf = read_stream(spark, events_stream_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = agg.writeStream.format("memory").queryName("tumbling").outputMode("append").start()
    drain(q)
    got = spark.sql("select sum(n_events) s, count(*) c from tumbling").collect()[0]
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # append mode emits only watermark-closed windows; all but the final
    # open window(s) must match the batch result
    assert got.c >= batch.count() - 10
    assert got.s is not None and got.s > 0


def test_session_window_streaming(spark, events_stream_dir):
    sdf = read_stream(spark, events_stream_dir)
    agg = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = agg.writeStream.format("memory").queryName("sessions").outputMode("append").start()
    drain(q)
    rows = spark.sql(
        "select count(*) c, sum(n_events) s from sessions"
    ).collect()[0]
    assert rows.c > 0 and rows.s > 0


def test_drop_duplicates_within_watermark(spark, events_stream_dir, tmp_path):
    # duplicate the feed: same events twice in one directory
    dup_dir = str(tmp_path / "dup")
    spark.read.parquet(events_stream_dir).write.mode("overwrite").parquet(dup_dir)
    spark.read.parquet(events_stream_dir).write.mode("append").parquet(dup_dir)

    sdf = read_stream(spark, dup_dir)
    dedup = sdf.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    q = dedup.writeStream.format("memory").queryName("dedup_stream").start()
    drain(q)
    n = spark.sql("select count(*) c from dedup_stream").collect()[0].c
    n_unique = spark.read.parquet(events_stream_dir).count()
    assert n == n_unique  # each duplicated event_id emitted once


def test_stream_stream_join_with_watermarks(spark, sf_dir, events_stream_dir):
    """Stream-stream inner join: purchases joined to clicks of the same user
    within the preceding hour, both sides watermarked (state is bounded by
    the time-range condition — the streaming twin of the as-of family)."""
    purchases = (
        read_stream(spark, events_stream_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        read_stream(spark, events_stream_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "c_id")
    q = joined.writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    drain(q)
    got = {(r.p_id, r.c_id) for r in spark.sql("select * from ss_join").collect()}

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("u"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    want = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (F.col("u") == F.col("cu"))
            & (F.col("c_ts") < F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    # watermark may hold back pairs near the stream tail; everything emitted
    # must be correct and cover (almost) all of the batch answer
    assert got <= want
    assert len(got) >= len(want) * 0.9


def test_funnel_ordering_semantics(spark):
    """Handcrafted users: completes in order / right events wrong order /
    stops mid-funnel — only the ordered completion advances all 3 steps."""
    from datetime import datetime

    from crdb_changefeed_publisher_spark import plans

    base = datetime(2024, 1, 1)
    rows = [
        # user 1: view < click < purchase -> completes
        (1, base.replace(hour=1), 1, "view", 0.0, "{}"),
        (2, base.replace(hour=2), 1, "click", 0.0, "{}"),
        (3, base.replace(hour=3), 1, "purchase", 0.0, "{}"),
        # user 2: purchase BEFORE click -> stops at step 2
        (4, base.replace(hour=1), 2, "view", 0.0, "{}"),
        (5, base.replace(hour=3), 2, "click", 0.0, "{}"),
        (6, base.replace(hour=2), 2, "purchase", 0.0, "{}"),
        # user 3: no view -> never enters the funnel
        (7, base.replace(hour=1), 3, "click", 0.0, "{}"),
        (8, base.replace(hour=2), 3, "purchase", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    spec = plans.get_spec("events_funnel")
    import tempfile, os
    d = tempfile.mkdtemp()
    for t in ("events",):
        ev.write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
    got = {r.step: r.users for r in spec.fn(spark, d).collect()}
    assert got == {1: 2, 2: 2, 3: 1}


def test_funnel_property_vs_python_reference(spark):
    """Random event tapes vs a straightforward per-user greedy simulation:
    step counts must agree for both the unwindowed and gap-windowed forms
    (ties, duplicate events, and missing steps included)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from crdb_changefeed_publisher_spark.operators.funnel import funnel_counts

    STEPS = ["view", "click", "purchase"]
    ev_st = st.tuples(
        st.integers(0, 3),                            # user
        st.integers(0, 20),                           # second offset
        st.sampled_from(STEPS + ["other"]),           # type
    )

    def ref(events, max_gap):
        from collections import defaultdict

        per_user = defaultdict(list)
        for u, t, ty in events:
            per_user[u].append((t, ty))
        counts = [0] * len(STEPS)
        for evs in per_user.values():
            prev_t = None
            for i, step in enumerate(STEPS):
                cand = [
                    t
                    for t, ty in evs
                    if ty == step
                    and (prev_t is None
                         or (t > prev_t and (max_gap is None or t - prev_t <= max_gap)))
                ]
                if not cand:
                    break
                prev_t = min(cand)
                counts[i] += 1
        return {i + 1: c for i, c in enumerate(counts) if c > 0}

    @given(st.lists(ev_st, min_size=1, max_size=25), st.sampled_from([None, 5]))
    @settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    def check(events, max_gap):
        rows = [
            (i, u, ty, float(t))  # ts carried via value seconds below
            for i, (u, t, ty) in enumerate(events)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, sec double"
        ).withColumn("ts", F.timestamp_seconds(F.col("sec") + 3600)).drop("sec")
        got = {
            r.step: r.users
            for r in funnel_counts(df, STEPS, max_gap_seconds=max_gap).collect()
            if r.users > 0
        }
        assert got == ref(events, max_gap)

    check()


def test_funnel_gap_window_drops_late_steps(spark):
    """A step completed outside the max-gap window does not advance the
    funnel, and the greedy-earliest anchor is the one the gap measures
    from (user 2's purchase is within gap of their SECOND click, but the
    funnel anchors on the earliest qualifying click — documented greedy
    contract)."""
    from datetime import datetime, timedelta

    from crdb_changefeed_publisher_spark.operators.funnel import funnel_counts

    base = datetime(2024, 1, 1)
    rows = [
        # user 1: click 1h after view, purchase 1h later -> completes
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + timedelta(hours=1), 1, "click", 0.0, "{}"),
        (3, base + timedelta(hours=2), 1, "purchase", 0.0, "{}"),
        # user 2: click at +1h (in gap), second click +30h, purchase +31h
        # -> purchase is 30h after the EARLIEST click -> dropped by 24h gap
        (4, base, 2, "view", 0.0, "{}"),
        (5, base + timedelta(hours=1), 2, "click", 0.0, "{}"),
        (6, base + timedelta(hours=30), 2, "click", 0.0, "{}"),
        (7, base + timedelta(hours=31), 2, "purchase", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        r.step: r.users
        for r in funnel_counts(
            ev, ["view", "click", "purchase"], max_gap_seconds=24 * 3600
        ).collect()
    }
    assert got == {1: 2, 2: 2, 3: 1}


def test_streaming_incremental_dedup_on_ingest(spark, sf_dir, tmp_path):
    """Dedup-on-ingest: a stream of arriving documents is deduped
    within-stream (watermark-scoped state on the content hash) and
    anti-joined against the STATIC corpus content-hash index — the
    streaming twin of operators/dedup.py::incremental_dedup_report's
    exact tier, composing stream-static join + dropDuplicatesWithinWatermark."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    d = str(tmp_path / "shard_stream")
    # +3600: rows with event time exactly at epoch 0 tie Spark's INITIAL
    # watermark (0) and are silently dropped as late by the dedup operator
    shard.select(
        "doc_id", "text", F.timestamp_seconds(F.col("doc_id") % 100 + 3600).alias("ingest_ts")
    ).coalesce(2).write.mode("overwrite").parquet(d)

    corpus_keys = corpus.select(F.sha2(F.col("text"), 256).alias("_tkey")).distinct()
    sdf = spark.readStream.schema("doc_id long, text string, ingest_ts timestamp").parquet(d)
    kept = (
        sdf.withColumn("_tkey", F.sha2(F.col("text"), 256))
        .withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["_tkey"])
        .join(corpus_keys, "_tkey", "left_anti")
        .select("doc_id", "_tkey")
    )
    q = kept.writeStream.format("memory").queryName("ingest_dedup").outputMode("append").start()
    drain(q)
    got_keys = {r._tkey for r in spark.sql("select * from ingest_dedup").collect()}

    want_keys = {
        r._tkey
        for r in shard.select(F.sha2(F.col("text"), 256).alias("_tkey"))
        .distinct()
        .join(corpus_keys, "_tkey", "left_anti")
        .collect()
    }
    # same CONTENT set survives (which copy's doc_id wins differs by batch
    # arrival order — content identity is the dedup contract)
    assert got_keys == want_keys and len(want_keys) > 0


def test_batch_session_window_matches_gaps_and_islands(spark, sf_dir):
    """Cross-validate the repo's gaps-and-islands sessionization against
    Spark's native session_window in BATCH mode. Boundary semantics
    differ by one instant — session_window starts a new session when the
    gap >= the window size, the registered query when it is strictly
    greater — so the reference here uses the >= rule; on gaps that never
    land exactly on 1800.000000 s the two agree everywhere."""
    ev = load_table(spark, sf_dir, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts").cast("double")).over(w)
    manual = (
        ev.withColumn(
            "new_s",
            F.when(prev.isNull() | ((F.col("ts").cast("double") - prev) >= 1800), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in native.collect()}
    want = {r.user_id: (r.n_sessions, r.n_events) for r in manual.collect()}
    assert got == want and len(want) > 0


def test_stream_static_dimension_enrichment(spark, sf_dir, events_stream_dir):
    """Stream-static join: enrich the event stream with a STATIC dimension
    (per-user tier derived from a batch frame) — the standard CDC-envelope
    enrichment pattern. The static side is tiny, so Catalyst broadcasts it
    into every micro-batch; no stream-side state, no watermark needed."""
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("standard")
        )
    )
    sdf = read_stream(spark, events_stream_dir)
    enriched = (
        sdf.join(F.broadcast(dim), "user_id")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("stream_static")
        .outputMode("complete")
        .start()
    )
    drain(q)
    got = {(r.tier, r.n) for r in spark.sql("select * from stream_static").collect()}
    want = {
        (r.tier, r.n)
        for r in load_table(spark, sf_dir, "events")
        .join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) == 2


def test_custom_stateful_running_user_totals(spark, events_stream_dir):
    """applyInPandasWithState: per-user running event count + value sum that
    persists across micro-batches (the custom-stateful-operator surface)."""
    sdf = read_stream(spark, events_stream_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    out = (
        sdf.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = out.writeStream.format("memory").queryName("user_totals").outputMode("update").start()
    drain(q)
    # final state per user must equal the batch aggregate
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            """
            select user_id, n_events, total_value from (
              select *, row_number() over (partition by user_id order by n_events desc) rn
              from user_totals
            ) where rn = 1
            """
        ).collect()
    }
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == batch


def test_stream_stream_interval_join_matches_batch_range_join(spark, sf_dir, events_stream_dir):
    """Stream-stream INTERVAL join (watermarks on both sides + time-range
    join condition): purchases joined to clicks within the previous 30
    minutes per user. The streaming result (availableNow drain) must equal
    the batch bucketed range join over the same fixture — the stream-stream
    join surface the reference lacks entirely."""
    from crdb_changefeed_publisher_spark.operators.joins import range_join_buckets

    sdf = read_stream(spark, events_stream_dir)
    p = (
        sdf.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        read_stream(spark, events_stream_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (p.user_id == c.user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select(p.user_id, "p_id", "c_id", (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"))
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    streamed = {
        (r.p_id, r.c_id, r.gap_us)
        for r in spark.sql("select * from interval_join").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    bp = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    bc = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    batch = {
        (r.p_id, r.c_id, r.gap_us)
        for r in range_join_buckets(bp, bc, "user_id", 1800, "p_ts", "c_ts").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_cdc_upsert_view_incremental_maintenance(spark, sf_dir, tmp_path):
    """The CDC apply loop: a multi-version change stream replayed in many
    micro-batches, with foreachBatch merging each batch's max_by upsert
    into the materialized store (keep the higher version). End state must
    equal the one-shot batch latest_changes over the whole feed — the
    incremental view is exactly the batch view."""
    from crdb_changefeed_publisher_spark.operators.changefeed import latest_changes
    from crdb_changefeed_publisher_spark.plans.cdc import _upsert_wire

    wire = _upsert_wire(spark, sf_dir)
    d = str(tmp_path / "wire")
    wire.repartition(8).write.mode("overwrite").parquet(d)

    store: dict[tuple, tuple] = {}

    def apply_batch(batch_df, batch_id):
        for r in latest_changes(batch_df).collect():
            k = (r.table, r.key)
            prev = store.get(k)
            if prev is None or r.latest_version > prev[0]:
                merged_versions = r.n_versions + (prev[2] if prev else 0)
                store[k] = (r.latest_version, r.value, merged_versions)
            else:
                store[k] = (prev[0], prev[1], prev[2] + r.n_versions)

    sdf = spark.readStream.schema(
        "table string, key string, version long, value string"
    ).option("maxFilesPerTrigger", 1).parquet(d)
    q = sdf.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    await_done(q)

    batch = {
        (r.table, r.key): (r.latest_version, r.value, r.n_versions)
        for r in latest_changes(wire).collect()
    }
    assert store == batch and len(batch) > 0


def test_upsert_view_composes_with_typed_changes(spark, sf_dir):
    """The full CDC apply story: multi-version change wire -> latest_changes
    (upsert view) -> typed_changes (from_json typed columns) == a real
    'current state' table with one typed row per key."""
    from crdb_changefeed_publisher_spark.operators.changefeed import (
        latest_changes,
        typed_changes,
    )
    from crdb_changefeed_publisher_spark.plans.cdc import _upsert_wire

    wire = _upsert_wire(spark, sf_dir)
    latest = latest_changes(wire)
    typed = typed_changes(
        latest, schema="user_id BIGINT, last_event BIGINT, props STRING"
    ).select("table", "key", "after.user_id", "after.last_event")
    rows = {r.key: r for r in typed.collect()}
    # ground truth: per user, last_event = max event_id
    ev = load_table(spark, sf_dir, "events")
    want = {
        f"[{r.user_id}]": r.m
        for r in ev.groupBy("user_id").agg(F.max("event_id").alias("m")).collect()
    }
    assert len(rows) == len(want)
    for k, r in rows.items():
        assert r.last_event == want[k], k
        assert f"[{r.user_id}]" == k


def test_streaming_windowed_hll_distinct_equals_batch(spark, events_stream_dir):
    """Sketches compose with streaming event-time windows: approx distinct
    users per (1h tumbling window, event_type) via hll_sketch_agg in a
    streaming aggregation. HLL register state is order-insensitive, so
    the streaming estimates must equal the batch estimates EXACTLY — the
    pattern for per-window cardinality monitoring on an unbounded feed
    where exact distinct state would grow with the key space."""
    sdf = read_stream(spark, events_stream_dir).withWatermark("ts", "1 hour")
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            F.expr("cast(hll_sketch_estimate(sk) as long)").alias("est_users"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_windows")
        .outputMode("complete")
        .start()
    )
    drain(q)
    got = {
        (r.w_start, r.event_type): r.est_users
        for r in spark.sql("select * from hll_windows").collect()
    }
    want = {
        (r.w_start, r.event_type): r.est_users
        for r in spark.read.parquet(events_stream_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            F.expr("cast(hll_sketch_estimate(sk) as long)").alias("est_users"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 10  # fixture spans many windows/types


def test_streaming_psi_drift_monitor_stream_static(spark, events_stream_dir):
    """The drift monitor as a LIVE gate: streaming per-event_type counts
    (complete mode) full-outer-joined against a broadcast static baseline
    with the same smoothed-PSI expressions the batch operator uses. After
    the drain, the streaming report must equal
    distribution_drift_report(baseline, stream_data) row for row — the
    pattern for 'alert when today's feed composition drifts from the
    published corpus' without landing the feed first."""
    from crdb_changefeed_publisher_spark.operators.quality import (
        distribution_drift_report,
    )

    batch = spark.read.parquet(events_stream_dir)
    # baseline: the purchase-heavy half of the feed (deterministic split)
    baseline = batch.filter(F.col("event_id") % 2 == 0).select("event_type")

    base_counts = baseline.groupBy(F.col("event_type").alias("dim")).agg(
        F.count(F.lit(1)).alias("n_base")
    )
    sdf = read_stream(spark, events_stream_dir).select("event_type")
    cur_counts = sdf.groupBy(F.col("event_type").alias("dim")).agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    # stream-static join: every micro-batch sees the broadcast baseline
    joined = cur_counts.join(F.broadcast(base_counts), "dim", "left_outer").select(
        "dim",
        F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
        F.col("n_cur"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("psi_stream")
        .outputMode("complete")
        .start()
    )
    drain(q)
    got_counts = {
        r.dim: (r.n_base, r.n_cur) for r in spark.sql("select * from psi_stream").collect()
    }

    want = {
        r.dim: r
        for r in distribution_drift_report(
            baseline, batch.select("event_type"), "event_type"
        ).collect()
    }
    # every dimension the stream saw matches the batch report's counts
    # (the batch report may additionally carry baseline-only dims)
    assert got_counts
    for dim, (nb, nc) in got_counts.items():
        assert (want[dim].n_base, want[dim].n_cur) == (nb, nc), dim


def test_streaming_quality_gate_into_table_sink(spark, sf_dir, tmp_path):
    """The distilled quality gate in the INGEST path: documents stream in
    micro-batches, each batch is scored by the frozen hashed-trigram
    classifier (per-doc margins are batch-local — a document arrives
    whole, so the stateless-per-batch apply is exact) and lands in the
    exactly-once table sink. The committed table must equal the one-shot
    batch classification of the whole corpus, row for row — the
    100 TB ingest pattern: score at write time, queryable immediately,
    no second corpus pass."""
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw
    from crdb_changefeed_publisher_spark.operators.text import hashed_ngram_classifier
    from crdb_changefeed_publisher_spark.streaming import table_sink
    from crdb_changefeed_publisher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed = str(tmp_path / "feed")
    docs.repartition(4).write.mode("overwrite").parquet(feed)
    root = str(tmp_path / "tbl")

    def classify(df):
        return hashed_ngram_classifier(
            df, tw.WEIGHTS_INT, tw.W_DUP_INT, tw.BIAS_INT, tw.N_BUCKETS, tw.SCALE
        )

    def apply_batch(batch_df, batch_id):
        table_sink.write_batch(classify(batch_df), batch_id, root)

    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = sdf.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    await_done(q)

    committed = table_sink.read_committed(spark, root)
    got = {
        r.doc_id: (r.n_grams, r.n_distinct, r.margin_int, r.repetitive_pred)
        for r in committed.collect()
    }
    want = {
        r.doc_id: (r.n_grams, r.n_distinct, r.margin_int, r.repetitive_pred)
        for r in classify(docs).collect()
    }
    assert got == want and len(want) >= 400
    # multiple micro-batches actually committed (the composition was
    # incremental, not one big batch)
    assert len(table_sink.table_history(root)) >= 2


def test_streaming_decontamination_scrub_equals_batch(spark, sf_dir, tmp_path):
    """Ingest-time passage scrubbing: contaminated_span_excise against a
    STATIC benchmark gram set is per-document independent (coverage
    depends only on the doc and the benchmark), so scrubbing each
    micro-batch must equal the one-shot batch scrub row for row — the
    property that makes it safe at ingest. (exact_substring_excise is
    corpus-dependent and deliberately has no streaming form: a
    micro-batch cannot see corpus-wide gram frequencies.)"""
    from crdb_changefeed_publisher_spark.operators.text import contaminated_span_excise

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    pool = docs.filter(F.col("doc_id") % 97 != 0)

    d = str(tmp_path / "pool")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    pool.select("doc_id", "text").repartition(2).write.parquet(d)

    got = {}

    def apply_batch(batch_df, batch_id):
        for r in contaminated_span_excise(batch_df, bench).collect():
            got[r.doc_id] = (r.n_words, r.n_removed_words, r.kept_text)

    sdf = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    q = sdf.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    await_done(q)

    want = {
        r.doc_id: (r.n_words, r.n_removed_words, r.kept_text)
        for r in contaminated_span_excise(pool, bench).collect()
    }
    assert got == want and len(want) > 0
    assert any(v[1] > 0 for v in want.values())  # something actually scrubbed
