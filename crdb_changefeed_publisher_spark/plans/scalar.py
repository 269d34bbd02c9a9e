"""Scalar function coverage: string / date / math / array / json expressions.

All expressions are built-in JVM functions (whole-stage codegen); the oracle
side uses the portable equivalents so values match bit-for-bit (math results
rounded: libm last-ulp differences across engines are real).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.tables import load_table


@query(
    "array_funcs_embeddings",
    oracle="""
    SELECT vec_id,
           len(embedding)                                   AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6)           AS first_component,
           round(list_sum(CAST(embedding AS DOUBLE[]))
                 / len(embedding), 6)                       AS mean_component
    FROM embeddings
    WHERE vec_id % 5 = 0
    """,
    doc="Array functions: size/element_at/aggregate-mean over array<float>.",
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_component"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x) / F.size("embedding"), 6
        ).alias("mean_component"),
    )


@query(
    "semi_structured_events",
    oracle="""
    SELECT 'map_props' AS kind, k AS key,
           count(*)                      AS n_events,
           round(avg(CAST(v AS INT)), 4) AS avg_val,
           CAST(NULL AS INT)             AS max_val
    FROM (SELECT unnest(json_keys(props)) AS k,
                 json_extract_string(props, '$.' || unnest(json_keys(props))) AS v
          FROM events)
    GROUP BY k
    UNION ALL
    SELECT 'json_type' AS kind, event_type AS key,
           count(*)                                                      AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_val,
           max(CAST(json_extract_string(props, '$.k') AS INT))           AS max_val
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured column surface in one tagged union: (a) parse the "
    "JSON props into map<string,int>, explode entries, aggregate per key "
    "(map functions); (b) get_json_object field extraction + aggregate per "
    "event_type (JSON functions).",
)
def semi_structured_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    map_side = (
        ev.select(F.explode(m).alias("key", "v"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("v"), 4).alias("avg_val"),
        )
        .select(
            F.lit("map_props").alias("kind"),
            "key",
            "n_events",
            "avg_val",
            F.lit(None).cast("int").alias("max_val"),
        )
    )
    k = F.get_json_object("props", "$.k").cast("int")
    json_side = (
        ev.groupBy(F.col("event_type").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k), 4).alias("avg_val"),
            F.max(k).alias("max_val"),
        )
        .select(F.lit("json_type").alias("kind"), "key", "n_events", "avg_val", "max_val")
    )
    return map_side.unionByName(json_side)

