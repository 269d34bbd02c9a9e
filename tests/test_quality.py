"""Data profiling / quality-check operator semantics on frames with
INJECTED defects (the fixture tables are clean, so the retired-oracle rows
only prove the zero-violation path; these prove the counting)."""

from __future__ import annotations

from pyspark.sql import Row

from crdb_changefeed_publisher_spark.operators.quality import profile_table, quality_checks


def test_quality_checks_count_injected_violations(spark):
    rows = [
        Row(k=1, ref=10, status="ok", amount=5.0),
        Row(k=1, ref=10, status="ok", amount=3.0),      # dup key (1 extra)
        Row(k=2, ref=None, status="bad", amount=-1.0),  # null ref, bad enum, negative
        Row(k=3, ref=99, status="ok", amount=0.0),      # orphan ref
        Row(k=3, ref=10, status="ok", amount=1.0),      # dup key (another extra)
    ]
    df = spark.createDataFrame(rows)
    parent = spark.createDataFrame([Row(pk=10), Row(pk=11)])
    got = {
        r.check: (r.violations, r.total, r.passed)
        for r in quality_checks(
            df,
            unique_cols=["k"],
            not_null_cols=["ref"],
            enum_domains={"status": ["ok"]},
            non_negative_cols=["amount"],
            contained_in={"ref": (parent, "pk")},
        ).collect()
    }
    assert got == {
        "not_null:ref": (1, 5, False),
        "enum:status": (1, 5, False),
        "non_negative:amount": (1, 5, False),
        "unique:k": (2, 5, False),
        # null ref does not match the parent -> counts as an orphan (the
        # not_null check is the one that names the null problem)
        "contained:ref": (2, 5, False),
    }


def test_quality_checks_all_pass_on_clean_frame(spark):
    df = spark.createDataFrame([Row(k=1, amount=1.0), Row(k=2, amount=2.0)])
    got = quality_checks(df, unique_cols=["k"], non_negative_cols=["amount"]).collect()
    assert all(r.passed and r.violations == 0 and r.total == 2 for r in got)


def test_profile_table_long_format_values(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=2, b=2.5), Row(a=2, b=7.25)],
        "a long, b double",
    )
    got = {
        (r.column_name, r.metric): r.value for r in profile_table(df, ["a", "b"]).collect()
    }
    assert got[("a", "n_rows")] == "3"
    assert got[("a", "n_null")] == "0"
    assert got[("a", "n_distinct")] == "2"
    assert got[("a", "min")] == "1" and got[("a", "max")] == "2"
    assert got[("b", "n_null")] == "1"
    assert got[("b", "n_distinct")] == "2"
    assert got[("b", "min")] == "2.5" and got[("b", "max")] == "7.25"


def test_profile_is_one_aggregation_job(spark, sf_dir):
    from crdb_changefeed_publisher_spark.tables import load_table

    prof = profile_table(load_table(spark, sf_dir, "orders"), ["o_orderkey", "o_totalprice"])
    plan = prof._jdf.queryExecution().executedPlan().toString()
    # one scan of orders feeds the whole profile (no per-column re-scans)
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


def test_distribution_drift_report_handcrafted(spark):
    """PSI semantics: identical snapshots -> psi 0 everywhere; a value
    absent from one side stays finite via smoothing; growing shares get
    positive psi, shrinking shares positive too (PSI contributions are
    (p2-p1)*ln(p2/p1) >= 0 always); the summed statistic orders a big
    shift above a small one."""
    from crdb_changefeed_publisher_spark.operators.quality import (
        distribution_drift_report,
    )

    base = spark.createDataFrame(
        [("en",)] * 60 + [("fr",)] * 30 + [("de",)] * 10, "lang string"
    )
    # identical -> all psi 0
    same = distribution_drift_report(base, base, "lang").collect()
    assert all(r.psi == 0.0 for r in same)

    # big shift: english halves, german triples, french vanishes
    cur = spark.createDataFrame([("en",)] * 30 + [("de",)] * 30, "lang string")
    out = {r.dim: r for r in distribution_drift_report(base, cur, "lang").collect()}
    assert set(out) == {"en", "fr", "de"}
    assert all(r.psi >= 0 for r in out.values())        # PSI terms are nonnegative
    assert out["fr"].n_cur == 0 and out["fr"].psi > 0   # vanished, finite
    big = sum(r.psi for r in out.values())

    # small shift: one english doc becomes german
    cur2 = spark.createDataFrame(
        [("en",)] * 59 + [("fr",)] * 30 + [("de",)] * 11, "lang string"
    )
    small = sum(
        r.psi for r in distribution_drift_report(base, cur2, "lang").collect()
    )
    assert small < 0.01 < 0.25 < big


def test_numeric_drift_report_handcrafted(spark):
    """Binned-PSI semantics: identical snapshots -> zero PSI; NULLs land
    in bin -1; out-of-range values clamp to the edge bins; a shifted
    distribution produces a larger summed PSI than a matching one."""
    from crdb_changefeed_publisher_spark.operators.quality import numeric_drift_report

    base = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    same = numeric_drift_report(base, base, "x", n_bins=5, lo=0.0, hi=100.0).collect()
    assert all(r.psi == 0.0 for r in same)
    assert {r.bin for r in same} == {0, 1, 2, 3, 4}

    # clamping + NULL bin
    cur = spark.createDataFrame(
        [(-50.0,), (1e9,), (None,)] + [(float(v),) for v in range(100)], "x double"
    )
    out = {r.bin: r for r in numeric_drift_report(base, cur, "x", 5, 0.0, 100.0).collect()}
    assert out[-1].n_cur == 1 and out[-1].n_base == 0    # NULL bin
    assert out[0].n_cur == 21                            # -50 clamps into bin 0
    assert out[4].n_cur == 21                            # 1e9 clamps into bin 4

    # shift: everything moves up one bin width
    shifted = spark.createDataFrame([(float(v) + 20,) for v in range(100)], "x double")
    psi_shift = sum(
        r.psi for r in numeric_drift_report(base, shifted, "x", 5, 0.0, 100.0).collect()
    )
    psi_same = sum(r.psi for r in same)
    assert psi_shift > 0.25 > psi_same


def test_key_skew_report_handcrafted(spark):
    """Skew numbers on a hand-built distribution: 1 key with 10 rows,
    9 keys with 1 row each — 19 rows, 10 keys, max 10, share 10/19;
    the top key wins by frequency, ties break by key value."""
    from crdb_changefeed_publisher_spark.operators.quality import key_skew_report

    rows = [(100,)] * 10 + [(i,) for i in range(9)]
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_report(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.max_freq) == (19, 10, 10)
    assert r.max_share == round(10 / 19, 6)
    assert r.p50_freq == 1.0 and r.p99_freq > 1.0
    assert r.top_key == 100

    # frequency tie: two keys at 5 rows -> larger key wins
    tie = spark.createDataFrame([(1,)] * 5 + [(2,)] * 5, "k long")
    assert key_skew_report(tie, "k").collect()[0].top_key == 2
