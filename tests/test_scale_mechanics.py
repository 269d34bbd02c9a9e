"""Scale-mechanics tests: bucketed co-partitioned joins (shuffle-free),
salted aggregation equivalence, and AQE behaviors the engine relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.functions.skew import salted_agg
from crdb_changefeed_publisher_spark.tables import load_table


def test_registered_query_exchange_free_with_bucketed_tables(spark, sf_dir):
    """The REGISTERED q3 plan, served from bucketed catalog tables via
    tables.set_bucketed_overrides, joins lineitem-orders with no exchange on
    the order key, and returns the identical result."""
    import shutil

    from crdb_changefeed_publisher_spark import plans, tables

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        # a previous session's managed-table dir may survive without a
        # metastore entry; clear both so saveAsTable never hits
        # LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {t}_bkt_test")
        shutil.rmtree(f"{warehouse}/{t}_bkt_test", ignore_errors=True)
        tables.load_table(spark, sf_dir, t).write.bucketBy(4, key).sortBy(key).mode(
            "overwrite"
        ).saveAsTable(f"{t}_bkt_test")
    spec = plans.get_spec("q3_shipping_priority")
    try:
        plain = spec.fn(spark, sf_dir).collect()
        tables.set_bucketed_overrides(
            {"lineitem": "lineitem_bkt_test", "orders": "orders_bkt_test"}
        )
        df = spec.fn(spark, sf_dir)
        bucketed = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        tables.set_bucketed_overrides(None)
    assert plain == bucketed
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Writing both join sides bucketed on the join key makes the fact-fact
    join exchange-free — the co-location strategy for 100 TB lineitem/orders."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "lineitem_b"
    )
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "orders_b"
    )
    try:
        joined = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        got = {(r.o_orderpriority, round(r.qty, 2)) for r in joined.collect()}
        # AQE final plan after execution: bucket pruning visible, and no
        # exchange on either join key (bucketing provides the partitioning)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 8 out of 8" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # result matches the unbucketed join
        expect = (
            lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        want = {(r.o_orderpriority, round(r.qty, 2)) for r in expect.collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_salted_agg_matches_plain(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    salted = salted_agg(
        l,
        ["l_returnflag"],
        {"total_qty": F.sum("l_quantity"), "n_rows": F.count(F.lit(1))},
        n_salts=8,
    )
    plain = l.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("total_qty"), F.count(F.lit(1)).alias("n_rows")
    )
    got = {(r.l_returnflag, round(r.total_qty, 6), r.n_rows) for r in salted.collect()}
    want = {(r.l_returnflag, round(r.total_qty, 6), r.n_rows) for r in plain.collect()}
    assert got == want


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """AQE must be active: tiny groupBy outputs should coalesce below the
    static 32 shuffle partitions."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
    df.collect()
    n_parts = df.rdd.getNumPartitions()
    assert n_parts < 32

def test_approx_count_distinct_is_the_documented_swap(spark, sf_dir):
    """docs/SCALE.md documents approx_count_distinct as the swap for
    high-cardinality COUNT DISTINCT (expand-free plan). Pin both claims:
    the estimate lands within the configured rsd on real data, and the
    plan drops the Expand node the exact distinct needs."""
    from crdb_changefeed_publisher_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_orderkey").alias("n"))
    approx = li.select(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n"))
    e = exact.collect()[0].n
    a = approx.collect()[0].n
    assert abs(a - e) / e < 0.06  # 3x the 2% rsd
    # the sketch aggregates in one pass: no Expand, no second distinct agg
    assert "Expand" not in approx._jdf.queryExecution().executedPlan().toString()


def test_lsh_sizing_rules_are_executable():
    """The sf1-measured banding rules as code (docs/SCALE.md): bits grow
    ~3 per 10x of corpus, clamped to sane/tileable ranges."""
    from crdb_changefeed_publisher_spark.operators.dedup import (
        banding_chunk_bits_for,
    )
    from crdb_changefeed_publisher_spark.operators.similarity import srp_bits_for

    # srp: fixture scales -> the measured-good dials
    assert srp_bits_for(2_000) == 4        # registered default at small SF
    assert srp_bits_for(20_000) == 7       # sf1 (6-7 region; ceil gives 7)
    assert srp_bits_for(20_000, target_bucket=500) == 6
    assert srp_bits_for(200_000) == 10     # +3 bits for the next decade
    assert srp_bits_for(1) == 4            # floor
    assert srp_bits_for(10**12) == 24      # ceiling

    # hamming banding: rule tracks corpus, clamped so chunks tile the sig
    assert banding_chunk_bits_for(5_000) == 5
    assert banding_chunk_bits_for(50_000) == 8
    assert banding_chunk_bits_for(500_000) == 11
    assert banding_chunk_bits_for(10**9) == 16        # 64/4 tiling ceiling
    assert banding_chunk_bits_for(10**9, sig_bits=30, n_chunks=2) == 15
    assert banding_chunk_bits_for(10) == 4            # floor


def test_driver_memory_default_is_half_the_ram(monkeypatch, tmp_path):
    """The driver heap defaults to half the RAM, or of a lower cgroup
    memory limit, clamped to 2..48 GB; SPARK_GRAFT_DRIVER_MEM wins. No JVM
    starts."""
    from crdb_changefeed_publisher_spark import session

    page = 4096
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for ram_gb, heap in ((1, "2g"), (5, "2g"), (15, "7g"), (64, "32g"), (256, "48g")):
        pages = ram_gb * 2**30 // page
        monkeypatch.setattr(session.os, "sysconf",
                            lambda name, pages=pages: page if name == "SC_PAGE_SIZE" else pages)
        assert session.driver_memory() == heap
    v2.write_text("max\n")  # cgroup v2 without a limit
    v1.write_text(f"{2**63 - 4096}\n")  # cgroup v1 without a limit
    assert session.driver_memory() == "48g"
    v1.write_text(f"{12 * 2**30}\n")
    assert session.driver_memory() == "6g"
    v2.write_text(f"{9 * 2**30}\n")
    assert session.driver_memory() == "4g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session.driver_memory() == "6g"


def test_bench_weather_verdict_thresholds():
    """bench.py's weather_suspect flag (r9 verdict #1): the measured
    clean windows (r8 driver run, r9 judge re-run) must read clean, the
    measured r9 contaminated window (steal 23,727 / job_overhead 2.54 /
    pyworker 1.71 — a 1.8x phantom 'regression') must trip on all three
    probes, and the quiet-start-gate violation is a reason on its own."""
    import bench

    assert bench.weather_verdict(397, 1.07, 1.56, 0.90, False) == []
    assert bench.weather_verdict(1352, 1.06, 1.86, 1.12, False) == []
    reasons = bench.weather_verdict(23727, 1.07, 2.54, 1.71, False)
    assert len(reasons) == 3
    assert any("steal" in r for r in reasons)
    assert any("job_overhead" in r for r in reasons)
    assert any("pyworker" in r for r in reasons)
    assert bench.weather_verdict(0, 1.0, 1.0, 1.0, True) == [
        "loadavg stayed > 2.0 through the 5-minute quiet-start gate"
    ]
    # the steal cut is a RATE (r10): 19,374 jiffies over the 26-minute
    # sf10 suite is ~0.4% of machine capacity — clean; the same count in
    # a 60 s window would be ~10% — suspect. elapsed_sec=0 (legacy
    # callers) keeps the absolute 5,000 floor.
    assert bench.weather_verdict(19374, 0.55, 1.3, 0.98, False,
                                 elapsed_sec=1550, n_cpus=32) == []
    hot = bench.weather_verdict(19374, 0.55, 1.3, 0.98, False,
                                elapsed_sec=60, n_cpus=32)
    assert len(hot) == 1 and "steal" in hot[0]
    # capacity scales with the kernel's USER_HZ (r10 advice: /proc/stat
    # steal accumulates at SC_CLK_TCK over the HOST's CPUs — a 250 Hz
    # kernel has 2.5x the jiffy capacity of the hard-coded 100)
    assert bench.weather_verdict(19374, 0.55, 1.3, 0.98, False,
                                 elapsed_sec=60, n_cpus=32,
                                 user_hz=1100) == []
    assert bench.weather_verdict(5001, 1.0, 1.0, 1.0, False) != []


def test_fan_out_scan_width_is_data_adaptive(spark, sf_dir, monkeypatch):
    """r14: fan_out_scan sizes its repartition from Catalyst's byte
    estimate (floored per task), never blindly to the core count — the
    r13 unconditional core-count fan regressed light-per-row consumers
    of tiny frames (doc_dsir_sample 2x slower at 32 cores than 8).
    Both paths must return identical rows: width is physical only."""
    from crdb_changefeed_publisher_spark.tables import fan_out_scan, load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_cores = spark.sparkContext.defaultParallelism

    # Tiny floor => old behavior: width == defaultParallelism.
    monkeypatch.setenv("SPARK_GRAFT_FANOUT_BYTES_PER_TASK", "1")
    wide = fan_out_scan(docs, "doc_id")
    assert wide.rdd.getNumPartitions() == n_cores

    # Huge floor => the bytes justify nothing beyond the input width:
    # the repartition is skipped entirely (no new exchange in the plan).
    monkeypatch.setenv("SPARK_GRAFT_FANOUT_BYTES_PER_TASK", str(1 << 40))
    skipped = fan_out_scan(docs, "doc_id")
    assert skipped is docs

    # Default floor => width in [1, cores], derived from the estimate.
    monkeypatch.delenv("SPARK_GRAFT_FANOUT_BYTES_PER_TASK", raising=False)
    adaptive = fan_out_scan(docs, "doc_id")
    width = adaptive.rdd.getNumPartitions()
    assert 1 <= width <= n_cores

    # A malformed knob falls back to the default instead of raising in
    # every caller.
    monkeypatch.setenv("SPARK_GRAFT_FANOUT_BYTES_PER_TASK", "32k")
    assert fan_out_scan(docs, "doc_id").rdd.getNumPartitions() == width

    # always=True keeps the unconditional core-count exchange (it replaces
    # a downstream keyed exchange, so width costs nothing new).
    always = fan_out_scan(docs, "doc_id", always=True)
    assert always.rdd.getNumPartitions() == n_cores

    # Results identical across widths (sorted collect).
    a = sorted(map(tuple, wide.collect()))
    b = sorted(map(tuple, docs.collect()))
    c = sorted(map(tuple, adaptive.collect()))
    assert a == b == c
