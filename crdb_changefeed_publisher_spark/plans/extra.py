"""Second wave of relational coverage: pivot, outer joins, scalar
subqueries, grouping sets, percentiles, statistical aggregates, regexp,
null-handling functions, date arithmetic, sliding event-time windows, and
the argmax-via-join pattern.

Same contract as every plans module: aliased columns, rounded floats,
deterministic tiebreaks, portable oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.tables import load_table


@query(
    "full_outer_nation_activity",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nk, sn.nk)        AS nationkey,
           coalesce(cn.n_customers, 0)   AS n_customers,
           coalesce(sn.n_suppliers, 0)   AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    doc="Full outer join of two aggregates with null-side coalescing.",
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("cnk")).agg(F.count(F.lit(1)).alias("n_customers"))
    sn = s.groupBy(F.col("s_nationkey").alias("snk")).agg(F.count(F.lit(1)).alias("n_suppliers"))
    return cn.join(sn, F.col("cnk") == F.col("snk"), "full_outer").select(
        F.coalesce("cnk", "snk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


def _zvalue_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB rendering of operators/layout.py::zvalue (same shift/mask
    interleave, term for term)."""
    terms = []
    for i in range(bits):
        terms.append(
            f"(((CAST({a} AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
            f" + (((CAST({b} AS BIGINT) >> {i}) & 1) << {2 * i})"
        )
    return " + ".join(terms)


@query(
    "orders_zorder_key",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           {_zvalue_sql('o_custkey', 'o_orderkey % 65536')} AS z
    FROM orders
    """,
    doc="Z-order clustering key: bit-interleave of (custkey, orderkey) — "
    "the write-layout primitive that makes parquet min/max stats prune on "
    "EITHER filtered column (files become rectangles in key space). Pure "
    "codegen shifts/masks, no UDF; the layout writer "
    "(operators/layout.py::write_zordered) range-partitions + sorts on "
    "this key, and the pruning effect is measured in tests/test_layout.py.",
)
def orders_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.layout import zvalue

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        zvalue(F.col("o_custkey"), F.col("o_orderkey") % 65536).alias("z"),
    )


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank iteration as a CTE (mirrors operators/graph.py)."""
    return f"""{cur} AS (
        SELECT n.node, 0.15 + 0.85 * coalesce(s.inflow, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / d.out_deg) AS inflow
            FROM e JOIN deg d USING (src) JOIN {prev} r ON r.node = e.src
            GROUP BY 1
        ) s USING (node)
    )"""


@query(
    "supplier_customer_pagerank",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT l.l_suppkey AS src, o.o_custkey + 1000000 AS dst
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    r0 AS (SELECT node, 1.0 AS rank FROM nodes),
    {_pagerank_iter_sql('r0', 'r1')},
    {_pagerank_iter_sql('r1', 'r2')},
    {_pagerank_iter_sql('r2', 'r3')}
    SELECT node, round(rank, 6) AS rank FROM r3
    """,
    doc="Iterative graph algorithm as repeated join-aggregate rounds: "
    "3-iteration PageRank over the supplier -> customer shipment graph "
    "(edges from lineitem x orders; customer ids offset so the bipartite "
    "node spaces stay disjoint). Each iteration is one equi-join of the "
    "edge list against the small (node, rank) state + one partial-agg sum "
    "on dst; fixed iterations unroll into exact arithmetic the oracle "
    "replays CTE by CTE (operators/graph.py::pagerank).",
)
def supplier_customer_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.graph import pagerank

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + 1_000_000).alias("dst"),
        )
    )
    return pagerank(edges, n_iter=3)


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def _profile_oracle() -> str:
    """Long-format profile oracle: one SELECT per (column, metric), mirrored
    against operators/quality.py::profile_table's rendering rules (doubles
    rounded to 4 then stringified, timestamps second-formatted)."""
    parts = []
    for c in _PROFILE_COLS:
        if c == "o_totalprice":
            mn, mx = f"CAST(round(min({c}), 4) AS VARCHAR)", f"CAST(round(max({c}), 4) AS VARCHAR)"
        elif c == "o_orderdate":
            mn = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        for metric, expr in (
            ("n_rows", "CAST(count(*) AS VARCHAR)"),
            ("n_null", f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS VARCHAR)"),
            ("n_distinct", f"CAST(count(DISTINCT {c}) AS VARCHAR)"),
            ("min", mn),
            ("max", mx),
        ):
            parts.append(
                f"SELECT '{c}' AS column_name, '{metric}' AS metric, {expr} AS value FROM orders"
            )
    return "\nUNION ALL\n".join(parts)


@query(
    "orders_profile",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=_profile_oracle(),
    doc="Data profiling (Deequ-style observability): per-column n_rows / "
    "n_null / exact n_distinct / min / max over orders in ONE aggregation "
    "pass (every metric is an agg expression in a single agg; stack() "
    "unpivots the 1-row result) — profiling cost ~ one scan "
    "(operators/quality.py::profile_table).",
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.quality import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(
    "orders_quality_checks",
    # r6 registry swap: promoted (doc_text_stats retired — the Deequ-style
    # declared-constraint family is the stronger operator to driver-verify)
    oracle="""
    WITH t AS (SELECT count(*) AS total FROM orders)
    SELECT 'not_null:o_custkey' AS check, CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           (SELECT total FROM t) AS total,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed FROM orders
    UNION ALL
    SELECT 'enum:o_orderpriority',
           CAST(sum(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
               THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT total FROM t),
           sum(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
               THEN 1 ELSE 0 END) = 0 FROM orders
    UNION ALL
    SELECT 'non_negative:o_totalprice',
           CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT total FROM t),
           sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0 FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT),
           (SELECT total FROM t),
           coalesce(sum(n - 1), 0) = 0
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'contained:o_custkey',
           CAST(count(*) AS BIGINT),
           (SELECT total FROM t),
           count(*) = 0
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    doc="Declared data-quality constraints with exact violation counts: "
    "non-null, enum domain, and non-negative checks fold into one "
    "aggregation pass; key uniqueness is a groupBy-count; referential "
    "containment (orders.o_custkey in customer) is a broadcast left-anti "
    "count (operators/quality.py::quality_checks).",
)
def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.quality import quality_checks

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return quality_checks(
        orders,
        unique_cols=["o_orderkey"],
        not_null_cols=["o_custkey"],
        enum_domains={
            "o_orderpriority": [
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ]
        },
        non_negative_cols=["o_totalprice"],
        contained_in={"o_custkey": (customer, "c_custkey")},
    )


@query(
    "orders_price_drift",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH b AS (
        SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS bin
        FROM orders WHERE o_orderdate < DATE '1995-07-01'
    ),
    c AS (
        SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 0), 9) AS bin
        FROM orders WHERE o_orderdate >= DATE '1995-07-01'
    ),
    bc AS (SELECT bin, count(*) AS n_base FROM b GROUP BY 1),
    cc AS (SELECT bin, count(*) AS n_cur FROM c GROUP BY 1),
    j AS (
        SELECT coalesce(bc.bin, cc.bin) AS bin,
               coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
        FROM bc FULL OUTER JOIN cc ON bc.bin = cc.bin
    ),
    t AS (SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur, count(*) AS n_dims FROM j)
    SELECT bin, n_base, n_cur,
           round((n_base + 0.5) / (t_base + 0.5 * n_dims), 6) AS share_base,
           round((n_cur + 0.5) / (t_cur + 0.5 * n_dims), 6) AS share_cur,
           round(((n_cur + 0.5) / (t_cur + 0.5 * n_dims)
                  - (n_base + 0.5) / (t_base + 0.5 * n_dims))
                 * ln(((n_cur + 0.5) / (t_cur + 0.5 * n_dims))
                      / ((n_base + 0.5) / (t_base + 0.5 * n_dims))), 6) AS psi
    FROM j CROSS JOIN t
    ORDER BY bin
    """,
    doc="PSI drift for a CONTINUOUS column (order value distribution, "
    "pre- vs post-1995-07 order halves): fixed-width bins over the FROZEN "
    "range [0, 600000] (10 bins; edges pinned like the learned-operator "
    "literals — recomputing the range per run would silently rebin "
    "history), then the categorical PSI machinery over the bin id. "
    "Binning is per-row codegen; everything downstream is "
    "~n_bins-sized (operators/quality.py::numeric_drift_report).",
)
def orders_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.quality import numeric_drift_report

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1995-07-01")
    cur = orders.filter(F.col("o_orderdate") >= "1995-07-01")
    return numeric_drift_report(base, cur, "o_totalprice", n_bins=10, lo=0.0, hi=600000.0)


@query(
    "events_user_skew",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH freq AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1)
    SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           max(n) AS max_freq,
           round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS max_share,
           CAST(quantile_cont(n, 0.5) AS DOUBLE) AS p50_freq,
           CAST(quantile_cont(n, 0.9) AS DOUBLE) AS p90_freq,
           CAST(quantile_cont(n, 0.99) AS DOUBLE) AS p99_freq,
           (SELECT key FROM freq ORDER BY n DESC, key DESC LIMIT 1) AS top_key
    FROM freq
    """,
    doc="Join-key SKEW diagnostic over events.user_id — the pre-join "
    "report that decides between a plain equi-join, AQE skew-split, and "
    "explicit salting (the registered salted_skew_agg is the treatment; "
    "this is the diagnosis): row/key counts, heaviest-key frequency and "
    "share, exact p50/p90/p99 of the per-key frequency distribution, and "
    "the top key (frequency ties broken by key). One partial-agg count "
    "shuffle to ~n_keys rows + a key-cardinality-sized stats aggregate "
    "(operators/quality.py::key_skew_report).",
)
def events_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.quality import key_skew_report

    return key_skew_report(load_table(spark, sf_dir, "events"), "user_id")


# --- Bloom-filter semi-join reduction ---------------------------------------
# DuckDB twins of operators/bloom.py arithmetic: the 52-bit portable hash
# (13 sha256 hex digits folded to BIGINT, seed 'bloom-v1'), the k=5 affine
# position family, and the 64-mask table (1 << 63 is the int64 sign bit —
# DuckDB errors on the shift, so BOTH engines look masks up in a table).
def _bloom_fold52_sql(expr: str) -> str:
    return f"""list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 14),
                                    i -> CAST(strpos('0123456789abcdef',
                                                     substr(sha256('bloom-v1:' || {expr}), i, 1)) - 1
                                              AS BIGINT))),
        (h, c) -> h * 16 + c)"""


def _bloom_masks_sql() -> str:
    from crdb_changefeed_publisher_spark.operators.bloom import _POW2

    # CAST(...), not ::BIGINT — the cast binds tighter than unary minus and
    # 2^63 has no positive BIGINT literal
    return ", ".join(f"({j}, CAST({v} AS BIGINT))" for j, v in enumerate(_POW2))


def _bloom_aff_sql(k: int = 5) -> str:
    from crdb_changefeed_publisher_spark.operators.bloom import BLOOM_COEFFS

    return ", ".join(f"({a}, {b})" for a, b in BLOOM_COEFFS[:k])


@query(
    "bloom_semijoin_stats",
    # r8 registry swap round 4: promoted to a driver row (scan-side shuffle
    # saver with a bit-exact oracle); conditional_aggs_orders retired in trade
    oracle=f"""
    WITH keys AS (
        SELECT DISTINCT o_orderkey AS key FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    mb AS (
        SELECT MIN(p)::INT AS p
        FROM (VALUES (10),(11),(12),(13),(14),(15),(16),(17),(18),(19),(20),
                     (21),(22),(23),(24),(25),(26)) t(p)
        WHERE (1::BIGINT << p) >= 16 * (SELECT count(*) FROM keys) OR p = 26
    ),
    aff(a, b) AS (VALUES {_bloom_aff_sql()}),
    masks(bit, mask) AS (VALUES {_bloom_masks_sql()}),
    kh AS (SELECT key, {_bloom_fold52_sql('CAST(key AS VARCHAR)')} AS h FROM keys),
    kpos AS (
        SELECT ((h * a + b) % 1000000007) % (1::BIGINT << (SELECT p FROM mb)) AS pos
        FROM kh CROSS JOIN aff
    ),
    words AS (
        SELECT pos // 64 AS word_idx, bit_or(m.mask) AS word
        FROM kpos JOIN masks m ON m.bit = pos % 64
        GROUP BY 1
    ),
    bigkeys AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
    bh AS (SELECT key, {_bloom_fold52_sql('CAST(key AS VARCHAR)')} AS h FROM bigkeys),
    bpos AS (
        SELECT key,
               ((h * a + b) % 1000000007) % (1::BIGINT << (SELECT p FROM mb)) AS pos
        FROM bh CROSS JOIN aff
    ),
    bprobe AS (
        SELECT b.key,
               CASE WHEN w.word IS NOT NULL AND (w.word & m.mask) <> 0
                    THEN 1 ELSE 0 END AS hit
        FROM bpos b
        JOIN masks m ON m.bit = b.pos % 64
        LEFT JOIN words w ON w.word_idx = b.pos // 64
    ),
    bpass AS (
        SELECT key, CASE WHEN min(hit) = 1 THEN 1 ELSE 0 END AS pass
        FROM bprobe GROUP BY key
    )
    SELECT l.l_returnflag,
           count(*) AS n_rows,
           CAST(sum(p.pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match,
           CAST(sum(CASE WHEN p.pass = 1 AND k.key IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM lineitem l
    JOIN bpass p ON p.key = l.l_orderkey
    LEFT JOIN keys k ON k.key = l.l_orderkey
    GROUP BY 1
    """,
    doc="Bloom-filter SEMI-JOIN REDUCTION accounting: lineitem rows probed "
    "against a KB filter built from the urgent-order key set, per "
    "returnflag — (n_rows, n_bloom_pass, n_true_match, n_false_pos). The "
    "100 TB shuffle saver: the filter broadcasts as m/64 long literals "
    "and drops non-matching fact rows AT THE SCAN in pure codegen bit "
    "arithmetic (no UDF); the exact join then removes the counted false "
    "positives, so the composition is row-identical to the plain semi "
    "join. Every bit is reproducible in SQL (52-bit sha2 hash + affine "
    "position family + mask-table probes — the KMV exactness tradition), "
    "so the oracle verifies the FILTER itself, false positives included. "
    "m self-sizes from the key count (bloom_m_bits_for, integer-exact in "
    "both engines); membership evaluated per DISTINCT fact key, joined "
    "back (operators/bloom.py).",
)
def bloom_semijoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import bloom

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return bloom.bloom_semijoin_stats(
        li, orders, "l_orderkey", "o_orderkey", "l_returnflag"
    )
