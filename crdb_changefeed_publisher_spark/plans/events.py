"""Event-time analytics over the `events` stream table (batch views of the
streaming semantics: tumbling windows, sessionization, as-of joins).

The streaming twins of these queries live in streaming/pipeline.py; batch
versions are expressed so the DuckDB oracle can validate identical semantics.

Scale notes: all window/session logic partitions by user_id (the natural
stream key) — one shuffle, then partition-local sorts. The as-of join has two
implementations: a declarative ranked-join (Catalyst-optimizable) and a
partitioned merge-asof over applyInPandas (linear scan per partition) which is
the 100 TB path when the ranked join's per-key fanout gets large.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.tables import load_table

# Shared oracle: for each purchase event, the most recent earlier click by the
# same user (deterministic tiebreak on event id).
# gap_seconds: millisecond precision via INTEGER microsecond arithmetic on
# both sides. round(epoch(p)-epoch(c), 3) subtracts two ~1.7e9-second
# float64s (eps ~2.4e-7 s), so gaps landing on an exact half-millisecond
# rounded differently from the engine's exact integer-us path (13 flips at
# sf0.1). (us + 500) // 1000 is exact on any engine.
ASOF_ORACLE = """
SELECT p_event_id, click_event_id, gap_seconds FROM (
    SELECT p.event_id  AS p_event_id,
           c.event_id  AS click_event_id,
           CAST((epoch_us(p.ts) - epoch_us(c.ts) + 500) // 1000 AS DOUBLE) / 1000
               AS gap_seconds,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY c.ts DESC, c.event_id DESC) AS rn
    FROM events p
    JOIN events c ON c.user_id = p.user_id
                 AND c.event_type = 'click'
                 AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
) WHERE rn = 1
"""


@query(
    "events_time_windows",
    oracle="""
    SELECT 'tumbling_1h' AS kind,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
           event_type           AS grp,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding_1h_30m' AS kind,
           strftime(w_start, '%Y-%m-%d %H:%M:00') AS window_start,
           '' AS grp,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts)                      AS w_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS w_start, value FROM events
    )
    GROUP BY 2
    UNION ALL
    SELECT 'daily_distinct_users' AS kind,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
           '' AS grp,
           count(*)                                    AS n_events,
           CAST(count(DISTINCT user_id) AS DOUBLE)     AS total_value
    FROM events
    GROUP BY 2
    """,
    doc="The event-time window family in one tagged union — batch twins of "
    "the streaming pipelines (tests/test_streaming_eventtime.py): tumbling "
    "1-hour windows per event_type, sliding 1h/30m windows (each event in "
    "exactly two), and daily distinct users (total_value carries the "
    "distinct count for that branch). Each branch is one partial-agg "
    "shuffle on its window key.",
)
def events_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("tumbling_1h").alias("kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("window_start"),
            F.col("event_type").alias("grp"),
            "n_events",
            "total_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("sliding_1h_30m").alias("kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:00").alias("window_start"),
            F.lit("").alias("grp"),
            "n_events",
            "total_value",
        )
    )
    daily = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("double").alias("total_value"),
        )
        .select(
            F.lit("daily_distinct_users").alias("kind"),
            "window_start",
            F.lit("").alias("grp"),
            "n_events",
            "total_value",
        )
    )
    return tumbling.unionByName(sliding).unionByName(daily)


@query(
    "events_user_sessions",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*)                         AS n_events
    FROM flagged
    GROUP BY user_id
    """,
    doc="Sessionization (30-min gap) via gaps-and-islands; batch twin of the "
    "streaming session_window/applyInPandasWithState operator.",
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts").cast("double")).over(w)
    new_session = (
        F.when(prev_ts.isNull() | ((F.col("ts").cast("double") - prev_ts) > 1800), 1).otherwise(0)
    )
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "asof_purchase_last_click_merge",
    oracle=ASOF_ORACLE,
    doc="As-of join (scale form): repartition both sides by user_id, then ONE "
    "vectorized pd.merge_asof(by='user_id') per partition via mapInPandas — "
    "linear in rows, no per-key fanout, no per-group Arrow round-trips. "
    "This is the 100 TB plan; identical semantics to the ranked-join form.",
)
def asof_purchase_last_click_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    both = purchases.withColumn("side", F.lit("p")).unionByName(
        clicks.withColumn("side", F.lit("c"))
    )

    def merge_partition(pdfs):
        # Concatenate the partition's Arrow batches first: a user's rows may
        # straddle batch boundaries, and repartition("user_id") only
        # guarantees per-PARTITION colocation. Then ONE vectorized
        # pd.merge_asof with by="user_id" does the grouped as-of (the
        # groupBy.applyInPandas formulation measured ~10x slower from
        # per-group batch overhead). Sorting clicks by (ts, event_id) makes
        # merge_asof's "last match" == latest ts then highest event_id, with
        # strict inequality via allow_exact_matches=False — the reference
        # tiebreak. Memory = one partition's rows; size partitions
        # accordingly at scale.
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            p = pdf[pdf["side"] == "p"].sort_values(["ts", "event_id"])
            c = pdf[pdf["side"] == "c"].sort_values(["ts", "event_id"])
        else:
            p = c = pd.DataFrame()
        if not p.empty and not c.empty:
            merged = pd.merge_asof(
                p[["event_id", "user_id", "ts"]].rename(columns={"event_id": "p_event_id"}),
                c[["event_id", "user_id", "ts"]].rename(
                    columns={"event_id": "click_event_id", "ts": "c_ts"}
                ),
                left_on="ts",
                right_on="c_ts",
                by="user_id",
                allow_exact_matches=False,
                direction="backward",
            )
            merged = merged.dropna(subset=["click_event_id"])
            if not merged.empty:
                merged["click_event_id"] = merged["click_event_id"].astype("int64")
                # exact integer-microsecond arithmetic (see ASOF_ORACLE note):
                # half-up to milliseconds, then scale — no float boundary flips
                gap_us = (
                    merged["ts"].values.astype("datetime64[us]").astype("int64")
                    - merged["c_ts"].values.astype("datetime64[us]").astype("int64")
                )
                merged["gap_seconds"] = ((gap_us + 500) // 1000) / 1000.0
                yield merged[["p_event_id", "click_event_id", "gap_seconds"]]

    return both.repartition("user_id").mapInPandas(
        merge_partition, "p_event_id long, click_event_id long, gap_seconds double"
    )


@query(
    "events_purchase_click_pairs",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    SELECT p.user_id,
           p.event_id AS p_event_id,
           c.event_id AS click_event_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events p
    JOIN events c ON c.user_id = p.user_id
                 AND c.event_type = 'click'
                 AND epoch_us(c.ts) <= epoch_us(p.ts)
                 AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
    WHERE p.event_type = 'purchase'
    """,
    doc="Range (interval) join: ALL clicks within 30 minutes before each "
    "purchase by the same user — executed as a time-BUCKETED equi-join "
    "(operators/joins.py::range_join_buckets: left explodes to 2 probe "
    "buckets, hash join on (user, bucket), exact integer-us window filter) "
    "instead of Catalyst's inequality-join-as-post-filter, which goes "
    "per-key all-pairs. gap_us is exact integer microseconds.",
)
def events_purchase_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.joins import range_join_buckets

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), F.col("ts").alias("c_ts")
    )
    return range_join_buckets(
        p, c, key_col="user_id", gap_seconds=1800, left_ts="p_ts", right_ts="c_ts"
    ).select("user_id", "p_event_id", "click_event_id", "gap_us")


@query(
    "events_hourly_locf",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH obs AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
               round(sum(value), 4) AS v, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
    j AS (
        SELECT g.user_id, g.bucket, o.v, coalesce(o.n, 0) AS n
        FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
    )
    SELECT user_id, bucket, n AS n_obs,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum,
           n = 0 AS is_gap
    FROM j
    """,
    doc="Time-series regularization: per-user hourly resample of the event "
    "stream with last-observation-carried-forward gap fill (KDB/Timescale "
    "time_bucket_gapfill + locf) — one partial-agg shuffle for the "
    "observations, sequence+explode per-key grid, per-key running "
    "last(ignorenulls) window (operators/timeseries.py::resample_locf).",
)
def events_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.timeseries import resample_locf

    return resample_locf(load_table(spark, sf_dir, "events"))


@query(
    "events_funnel",
    # r6 registry swap: promoted into the driver registry (left_join_order_counts
    # retired to free the slot — the funnel is the stronger operator to verify)
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    )
    SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM v
    UNION ALL SELECT 2, 'click', count(*) FROM c
    UNION ALL SELECT 3, 'purchase', count(*) FROM p
    """,
    doc="Ordered funnel analysis: users completing view -> click -> "
    "purchase IN TIMESTAMP ORDER (each step strictly after the user's "
    "earliest qualifying prior step — the earliest-qualifying-event rule "
    "maximizes completion counts). Three partial-agg min(ts) passes "
    "chained by equi-joins on user_id — no window, no per-user sort, no "
    "sequence explode (plans/events.py::events_funnel).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.funnel import funnel_counts

    return funnel_counts(load_table(spark, sf_dir, "events"), ["view", "click", "purchase"])


@query(
    "events_weighted_median",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH base AS (
        SELECT event_type, value,
               CAST(json_extract_string(props, '$.k') AS INT) + 1 AS w
        FROM events
    ),
    c AS (
        SELECT event_type, value,
               sum(w) OVER (PARTITION BY event_type ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(w) OVER (PARTITION BY event_type) AS tot
        FROM base
    )
    SELECT event_type, CAST(min(tot) AS BIGINT) AS total_weight,
           min(value) AS weighted_median
    FROM c WHERE cum * 2 >= tot GROUP BY event_type
    """,
    doc="Exact weighted median per event type (weight = props.k + 1): the "
    "smallest value whose cumulative weight reaches half the group total "
    "— one shuffle on the group key, a group-local cumulative-weight "
    "window, tie-invariant by construction "
    "(operators/timeseries.py::weighted_median).",
)
def events_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.timeseries import weighted_median

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "value",
        (F.get_json_object("props", "$.k").cast("int") + 1).alias("w"),
    )
    return weighted_median(base, "event_type", "value", "w")


@query(
    "events_rolling_zscore",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, value,
               count(value) OVER win AS n,
               sum(value) OVER win AS s,
               sum(value * value) OVER win AS sq
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CASE WHEN n >= 2 AND (sq / n - (s / n) * (s / n)) > 0
                THEN round((value - s / n) / sqrt(sq / n - (s / n) * (s / n)), 4)
           END AS z,
           CASE WHEN n >= 2 AND (sq / n - (s / n) * (s / n)) > 0
                THEN abs((value - s / n) / sqrt(sq / n - (s / n) * (s / n))) > 3.0
                ELSE FALSE END AS is_anomaly
    FROM w
    """,
    doc="Rolling z-score anomaly flags: each event scored against the mean/"
    "std of its user's preceding 20 observations (strictly earlier rows — "
    "causally computable on a live stream; cold-start/zero-variance rows "
    "get NULL). One shuffle on the key, one shared window frame "
    "(operators/timeseries.py::rolling_zscore).",
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.timeseries import rolling_zscore

    return rolling_zscore(load_table(spark, sf_dir, "events"))


@query(
    "events_hourly_interp",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH obs AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
               round(sum(value), 4) AS v, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
    j AS (
        SELECT g.user_id, g.bucket, o.v, coalesce(o.n, 0) AS n
        FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
    ),
    nb AS (
        SELECT *,
            last_value(sv IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spv,
            last_value(CASE WHEN sv IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
            first_value(sv IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS snv,
            first_value(CASE WHEN sv IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxb
        FROM (SELECT *, CAST(round(v * 10000) AS BIGINT) AS sv FROM j)
    )
    SELECT user_id, bucket, n AS n_obs,
           CASE WHEN n > 0 THEN sv
                WHEN snv IS NULL THEN spv
                ELSE floor((2 * (spv * (nxb - bucket) + snv * (bucket - pb))
                            + (nxb - pb)) / (2 * (nxb - pb)))
           END / 10000.0 AS value_interp,
           n = 0 AS is_gap
    FROM nb
    """,
    doc="Time-series regularization with LINEAR interpolation: per-user "
    "hourly resample where gap buckets are lerped between the nearest "
    "observed buckets either side (trailing gaps fall back to LOCF) — "
    "same one-shuffle shape as the LOCF form plus a forward-neighbor "
    "window (operators/timeseries.py::resample_interpolate).",
)
def events_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.timeseries import resample_interpolate

    return resample_interpolate(load_table(spark, sf_dir, "events"))
