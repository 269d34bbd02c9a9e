"""CDC parity queries: the reference's envelope pipeline exercised as batch
queries over a changefeed-shaped replay of the `events` fixture, so the
DuckDB oracle can verify the envelope/demux/cursor semantics value-by-value.

The wire rows are built from events deterministically: key = [event_id],
value = {"after": {...}} built from integer fields + the raw props JSON
(integer formatting is engine-identical; no float-to-string divergence).
Every 100th event becomes a resolved-cursor row, like a live changefeed's
resolved messages interleaving with data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators.changefeed import (
    changefeed_pipeline,
    envelope_col,
    extract_resolved,
    split_changes,
)
from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.tables import load_table

# Engine-portable wire replay: (table, key, value) as strings.
_WIRE_SQL = """
    SELECT CASE WHEN event_id % 100 = 0 THEN NULL ELSE 'events' END AS "table",
           CASE WHEN event_id % 100 = 0 THEN NULL
                ELSE '[' || CAST(event_id AS VARCHAR) || ']' END    AS key,
           CASE WHEN event_id % 100 = 0
                THEN '{"resolved": "17000' || CAST(event_id AS VARCHAR) || '.0000000000,0"}'
                ELSE '{"after": {"event_id": ' || CAST(event_id AS VARCHAR)
                     || ', "user_id": ' || CAST(user_id AS VARCHAR)
                     || ', "props": ' || props || '}}' END          AS value
    FROM events
"""


def _wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_resolved = F.col("event_id") % 100 == 0
    return ev.select(
        F.when(is_resolved, F.lit(None)).otherwise(F.lit("events")).alias("table"),
        F.when(is_resolved, F.lit(None))
        .otherwise(F.concat(F.lit("["), F.col("event_id").cast("string"), F.lit("]")))
        .alias("key"),
        F.when(
            is_resolved,
            F.concat(
                F.lit('{"resolved": "17000'),
                F.col("event_id").cast("string"),
                F.lit('.0000000000,0"}'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"after": {"event_id": '),
                F.col("event_id").cast("string"),
                F.lit(', "user_id": '),
                F.col("user_id").cast("string"),
                F.lit(', "props": '),
                F.col("props"),
                F.lit("}}"),
            )
        )
        .alias("value"),
    )


@query(
    "cdc_envelopes",
    oracle=f"""
    WITH wire AS ({_WIRE_SQL})
    SELECT '{{"table":"' || "table" || '","key":"' || key || '","value":' || value || '}}'
               AS envelope
    FROM wire
    WHERE NOT ("table" IS NULL AND key IS NULL)
    """,
    doc="Reference envelope pipeline (decode -> demux -> raw-JSON envelope) "
    "over a changefeed replay of events; cursor rows excluded from publish. "
    "Mirrors src/model.rs ChangePayload + src/main.rs process_change.",
)
def cdc_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    envelopes, _ = changefeed_pipeline(_wire(spark, sf_dir))
    return envelopes


@query(
    "cdc_resolved_cursors",
    oracle=f"""
    WITH wire AS ({_WIRE_SQL})
    SELECT json_extract_string(value, '$.resolved') AS resolved
    FROM wire
    WHERE "table" IS NULL AND key IS NULL
    """,
    doc="Cursor branch of the demux: resolved HLC timestamps extracted from "
    "cursor rows (src/model.rs JsonCursor, src/main.rs:229-235).",
)
def cdc_resolved_cursors(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, resolved = changefeed_pipeline(_wire(spark, sf_dir))
    return resolved


@query(
    "cdc_change_counts_by_table",
    oracle=f"""
    WITH wire AS ({_WIRE_SQL})
    SELECT "table" AS table_name,
           count(*) AS n_changes,
           count(DISTINCT key) AS n_distinct_keys
    FROM wire
    WHERE NOT ("table" IS NULL AND key IS NULL)
    GROUP BY "table"
    """,
    doc="Observability aggregate over the change branch (per-table change and "
    "distinct-key counts) — the multi-table fan-out stats the reference "
    "lacks (it is single-table by construction).",
)
def cdc_change_counts_by_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes, _ = split_changes(_wire(spark, sf_dir))
    return changes.groupBy(F.col("table").alias("table_name")).agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.countDistinct("key").alias("n_distinct_keys"),
    )


# User-keyed change replay for the upsert view: many versions per key
# (every event by a user is an upsert of that user's row), versioned by
# event_id — deterministic and engine-portable like _WIRE_SQL.
_UPSERT_WIRE_SQL = """
    SELECT 'events' AS "table",
           '[' || CAST(user_id AS VARCHAR) || ']' AS key,
           event_id AS version,
           '{"after": {"user_id": ' || CAST(user_id AS VARCHAR)
               || ', "last_event": ' || CAST(event_id AS VARCHAR)
               || ', "props": ' || props || '}}' AS value
    FROM events
"""


def _upsert_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.lit("events").alias("table"),
        F.concat(F.lit("["), F.col("user_id").cast("string"), F.lit("]")).alias("key"),
        F.col("event_id").alias("version"),
        F.concat(
            F.lit('{"after": {"user_id": '),
            F.col("user_id").cast("string"),
            F.lit(', "last_event": '),
            F.col("event_id").cast("string"),
            F.lit(', "props": '),
            F.col("props"),
            F.lit("}}"),
        ).alias("value"),
    )


@query(
    "cdc_upsert_view",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH wire AS ({_UPSERT_WIRE_SQL})
    SELECT "table", key,
           arg_max(value, version) AS value,
           max(version) AS latest_version,
           CAST(count(*) AS BIGINT) AS n_versions
    FROM wire GROUP BY "table", key
    """,
    doc="CDC UPSERT materialized view: latest payload per (table, key) from "
    "a multi-version change replay — ONE max_by partial-agg shuffle "
    "(~distinct keys over the wire, not change volume), no rank window "
    "(operators/changefeed.py::latest_changes). The apply-side twin of the "
    "reference's publish loop; incrementally maintained form streaming-"
    "tested in tests/test_streaming_eventtime.py.",
)
def cdc_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.changefeed import latest_changes

    return latest_changes(_upsert_wire(spark, sf_dir))


@query(
    "orders_cdc_reconcile",
    oracle="""
    WITH snap AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    repl AS (
        -- the replica a CDC apply loop maintained, with injected drift:
        -- every 997th key lost, every 499th price corrupted, plus alien rows
        SELECT o_orderkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 499 = 0 THEN round(o_totalprice + 1.0, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 997 <> 0
        UNION ALL
        SELECT o_orderkey + 30000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 991 = 0
    )
    SELECT coalesce(s.o_orderkey, r.o_orderkey) AS key,
           CASE WHEN r.o_orderkey IS NULL THEN 'missing_in_replica'
                WHEN s.o_orderkey IS NULL THEN 'missing_in_snapshot'
                ELSE 'mismatch' END AS status,
           CASE WHEN s.o_orderkey IS NULL OR r.o_orderkey IS NULL THEN ''
                ELSE concat_ws(',',
                     CASE WHEN s.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                          THEN 'o_orderstatus' END,
                     CASE WHEN s.o_totalprice IS DISTINCT FROM r.o_totalprice
                          THEN 'o_totalprice' END) END AS diff_cols
    FROM snap s FULL OUTER JOIN repl r ON s.o_orderkey = r.o_orderkey
    WHERE r.o_orderkey IS NULL OR s.o_orderkey IS NULL
       OR s.o_orderstatus IS DISTINCT FROM r.o_orderstatus
       OR s.o_totalprice IS DISTINCT FROM r.o_totalprice
    """,
    doc="CDC snapshot-vs-replica RECONCILIATION (the audit that closes the "
    "changefeed loop): per-key drift report between the orders snapshot "
    "and a replica with deterministic injected drift (lost keys, corrupted "
    "prices, alien rows). Tier 1 classifies every key JVM-side from 40-byte "
    "(key, sha2 fingerprint) rows; tier 2 diffs ONLY suspect keys through "
    "groupBy().cogroup().applyInPandas() — the cogrouped-UDF surface, with "
    "Python cost proportional to the drift, not the table "
    "(operators/reconcile.py::snapshot_reconcile).",
)
def orders_cdc_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.reconcile import snapshot_reconcile

    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    drifted = snap.filter(F.col("o_orderkey") % 997 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 499 == 0, F.round(F.col("o_totalprice") + 1.0, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    alien = snap.filter(F.col("o_orderkey") % 991 == 0).select(
        (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    repl = drifted.unionByName(alien)
    return snapshot_reconcile(snap, repl, "o_orderkey", ["o_orderstatus", "o_totalprice"])


# Wire replay with INJECTED schema evolution (the orders_cdc_reconcile
# pattern: drift is deterministic from event_id, so both engines build the
# identical stream): 'legacy' rides the first half of the version span and
# vanishes, 'v2_flag' appears in the second half, 'burst' appears only on
# event_id % 97 == 5 rows (a mid-span transient), and the three baseline
# columns span everything.
_EVO_WIRE_SQL = """
    SELECT 'events' AS "table",
           event_id AS version,
           '{"after": {"event_id": ' || CAST(event_id AS VARCHAR)
             || ', "user_id": ' || CAST(user_id AS VARCHAR)
             || ', "props": ' || props
             || CASE WHEN event_id <= (SELECT max(event_id) // 2 FROM events
                                       WHERE event_id % 100 <> 0)
                     THEN ', "legacy": 1' ELSE ', "v2_flag": 1' END
             || CASE WHEN event_id % 97 = 5 THEN ', "burst": 1' ELSE '' END
             || '}}' AS value
    FROM events
    WHERE event_id % 100 <> 0
"""


@query(
    "cdc_schema_evolution",
    # r8 registry swap round 4: promoted (schema-drift detection is core CDC
    # surface, closest to the reference's domain); sales_rollup retired in trade
    oracle=f"""
    WITH wire AS ({_EVO_WIRE_SQL}),
    cols AS (
        SELECT "table", version,
               unnest(json_keys(json_extract(value, '$.after'))) AS "column"
        FROM wire
    ),
    per_col AS (
        SELECT "table", "column",
               count(*) AS n_present,
               min(version) AS first_version,
               max(version) AS last_version
        FROM cols GROUP BY 1, 2
    ),
    per_table AS (
        SELECT "table", count(*) AS n_rows,
               min(version) AS tmin, max(version) AS tmax
        FROM wire GROUP BY 1
    )
    SELECT c."table", c."column", c.n_present, t.n_rows,
           c.first_version, c.last_version,
           CASE WHEN c.first_version > t.tmin AND c.last_version < t.tmax
                THEN 'transient'
                WHEN c.first_version > t.tmin THEN 'added'
                WHEN c.last_version < t.tmax THEN 'removed'
                ELSE 'stable' END AS status
    FROM per_col c JOIN per_table t USING ("table")
    """,
    doc="Upstream SCHEMA-DRIFT detection over the change stream: per "
    "(table, column-of-after), presence counts and the first/last version "
    "each column appears at, classified added / removed / transient / "
    "stable by integer comparison against the table's version span — the "
    "report a CDC apply loop consults before ALTER TABLE (the reference's "
    "JSON envelopes carry whatever columns upstream has NOW). Evolution "
    "is injected deterministically into the wire ('legacy' rides the "
    "first half of the span, 'v2_flag' the second, 'burst' a mid-span "
    "modulo slice), and the oracle rebuilds the same wire and re-derives "
    "every classification from the parsed JSON keys "
    "(operators/changefeed.py::schema_evolution_report).",
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.changefeed import (
        schema_evolution_report,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 != 0)
    # the threshold stays a separate collect, deliberately (r13, measured):
    # attaching it as a broadcast one-row agg (crossJoin(broadcast(max/2)))
    # measured SLOWER in an interleaved steal-free A/B (old min 0.837 /
    # med 0.862 s vs new 0.879 / 1.000 at sf0.1) — the main job blocks on
    # the broadcast build while the standalone max is a cheap column-pruned
    # scan, and the literal threshold stays foldable in codegen.
    thr = ev.agg(F.max("event_id")).collect()[0][0] // 2
    value = F.concat(
        F.lit('{"after": {"event_id": '),
        F.col("event_id").cast("string"),
        F.lit(', "user_id": '),
        F.col("user_id").cast("string"),
        F.lit(', "props": '),
        F.col("props"),
        F.when(F.col("event_id") <= thr, F.lit(', "legacy": 1')).otherwise(
            F.lit(', "v2_flag": 1')
        ),
        F.when(F.col("event_id") % 97 == 5, F.lit(', "burst": 1')).otherwise(F.lit("")),
        F.lit("}}"),
    )
    changes = ev.select(
        F.lit("events").alias("table"),
        F.col("event_id").alias("version"),
        value.alias("value"),
    )
    return schema_evolution_report(changes)


# SCD2 wire: user-keyed change replay versioned by event_id (the
# _UPSERT_WIRE_SQL key scheme), tracking event_type as the dimension
# attribute; every 211th event is a tombstone. Deterministic integers and
# strings only — both engines build the identical stream.
_SCD2_WIRE_SQL = """
    SELECT user_id AS k, event_id AS v,
           CASE WHEN event_id % 211 = 0 THEN NULL ELSE event_type END AS attr,
           (event_id % 211 = 0) AS del
    FROM events
"""


@query(
    "cdc_scd2_history",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH wire AS ({_SCD2_WIRE_SQL}),
    lagged AS (
        SELECT *, lag(del) OVER w AS pdel, lag(attr) OVER w AS pattr
        FROM wire WINDOW w AS (PARTITION BY k ORDER BY v)
    ),
    boundaries AS (
        SELECT * FROM lagged
        WHERE del OR pdel IS NULL OR pdel OR attr IS DISTINCT FROM pattr
    ),
    intervals AS (
        SELECT *, lead(v) OVER (PARTITION BY k ORDER BY v) AS valid_to
        FROM boundaries
    )
    SELECT k AS user_id, attr AS event_type, v AS valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM intervals WHERE NOT del
    """,
    doc="SCD TYPE 2 dimension history from the change stream — the classic "
    "warehouse consumer of the reference's per-key upsert envelopes "
    "(README.md:37): per-user validity intervals of the tracked attribute "
    "(event_type), versioned by event_id, with change-point COMPRESSION "
    "(consecutive no-change upserts collapse into the open interval) and "
    "tombstones (every 211th event) closing intervals so deleted keys have "
    "no current row until reopened. One shuffle on the key: both window "
    "passes (lag change-point detection, lead valid_to assignment) share "
    "the (key, version) Exchange+Sort, the boundary filter between them "
    "preserving order (operators/scd.py::scd2_history).",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.scd import scd2_history

    ev = load_table(spark, sf_dir, "events")
    is_del = F.col("event_id") % 211 == 0
    wire = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("v"),
        F.when(is_del, F.lit(None)).otherwise(F.col("event_type")).alias("attr"),
        is_del.alias("del"),
    )
    out = scd2_history(wire, "k", "v", ["attr"], deleted_col="del")
    return out.select(
        F.col("k").alias("user_id"),
        F.col("attr").alias("event_type"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "orders_matview_totals",
    # r9 swap round 6 PROMOTION: incremental MV maintenance is the
    # production CDC-consumer pattern (r8 verdict #3); lang_id_confusion
    # retired in trade
    oracle="""
    WITH cents AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
        FROM orders
    ),
    changes AS (
        -- losing early version for the updated keys (last-writer-wins)
        SELECT o_orderkey AS key, 1 AS version, o_orderpriority AS grp,
               v + 1 AS v, FALSE AS deleted
        FROM cents WHERE o_orderkey % 50 = 7
        UNION ALL
        -- winning update: +1000.00 and a GROUP MIGRATION to 3-MEDIUM
        SELECT o_orderkey, 2, '3-MEDIUM', v + 100000, FALSE
        FROM cents WHERE o_orderkey % 50 = 7
        UNION ALL
        -- deletes
        SELECT o_orderkey, 2, NULL, NULL, TRUE
        FROM cents WHERE o_orderkey % 50 = 13
        UNION ALL
        -- inserts under fresh keys
        SELECT o_orderkey + 100000000, 1, '5-LOW', v + 5000, FALSE
        FROM cents WHERE o_orderkey % 50 = 21
    ),
    latest AS (
        SELECT key, grp, v, deleted FROM (
            SELECT *, row_number() OVER (PARTITION BY key
                                         ORDER BY version DESC) AS rn
            FROM changes
        ) WHERE rn = 1
    ),
    applied AS (
        SELECT o_orderpriority AS grp, v FROM cents
        WHERE o_orderkey NOT IN (SELECT key FROM latest)
        UNION ALL
        SELECT grp, v FROM latest WHERE NOT deleted
    )
    SELECT grp AS o_orderpriority,
           count(*) AS n_rows,
           round(CAST(sum(v) AS DOUBLE) / 100, 2) AS total
    FROM applied GROUP BY 1
    """,
    doc="Incremental MATERIALIZED-VIEW maintenance under after-only CDC "
    "upserts: per-priority (n_rows, total) of orders AFTER a deterministic "
    "change batch (last-writer-wins versions, a +1000.00 update that "
    "MIGRATES its rows to another group, deletes, fresh-key inserts) — "
    "computed incrementally: base aggregated once and PROBED once on the "
    "broadcast changed-key set, delta = new - old contributions folded in "
    "with a full-outer join; never a base rescan. The oracle is the full "
    "recompute over the applied table, so the row-equality IS the "
    "maintenance-correctness proof. Values flow as integer cents (exact "
    "float sums in any order — no summation-order boundary) "
    "(operators/matview.py::incremental_group_totals; envelope shape per "
    "reference README.md:37 after-only upserts).",
)
def orders_matview_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.matview import (
        incremental_group_totals,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    upd_keys = cents.filter(F.col("o_orderkey") % 50 == 7)
    changes = (
        upd_keys.select(
            F.col("o_orderkey").alias("key"),
            F.lit(1).alias("version"),
            F.col("o_orderpriority").alias("grp"),
            (F.col("v") + 1).alias("v"),
            F.lit(False).alias("deleted"),
        )
        .unionByName(
            upd_keys.select(
                F.col("o_orderkey").alias("key"),
                F.lit(2).alias("version"),
                F.lit("3-MEDIUM").alias("grp"),
                (F.col("v") + 100000).alias("v"),
                F.lit(False).alias("deleted"),
            )
        )
        .unionByName(
            cents.filter(F.col("o_orderkey") % 50 == 13).select(
                F.col("o_orderkey").alias("key"),
                F.lit(2).alias("version"),
                F.lit(None).cast("string").alias("grp"),
                F.lit(None).cast("long").alias("v"),
                F.lit(True).alias("deleted"),
            )
        )
        .unionByName(
            cents.filter(F.col("o_orderkey") % 50 == 21).select(
                (F.col("o_orderkey") + 100000000).alias("key"),
                F.lit(1).alias("version"),
                F.lit("5-LOW").alias("grp"),
                (F.col("v") + 5000).alias("v"),
                F.lit(False).alias("deleted"),
            )
        )
    )
    base = cents.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderpriority").alias("grp"),
        F.col("v").cast("double").alias("v"),
    )
    out = incremental_group_totals(
        base, changes.withColumn("v", F.col("v").cast("double")),
        key_col="key", group_col="grp", value_col="v",
    )
    return out.select(
        F.col("grp").alias("o_orderpriority"),
        "n_rows",
        F.round(F.col("total") / 100, 2).alias("total"),
    )
