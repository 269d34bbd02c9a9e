"""Z-order layout: the point is MEASURABLE file pruning — after
write_zordered, a selective filter on EITHER column must touch a strict
subset of files (parquet footer min/max), which a single-column sort
cannot deliver for the second column."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators.layout import write_zordered, zvalue
from crdb_changefeed_publisher_spark.tables import load_table


def _file_ranges(out: str, col: str) -> list[tuple[int, int]]:
    ranges = []
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    return ranges


def _files_matching(ranges: list[tuple[int, int]], lo: int, hi: int) -> int:
    return sum(1 for (a, b) in ranges if not (b < lo or a > hi))


def test_zvalue_bit_interleave_properties(spark):
    df = spark.range(256).selectExpr("id % 16 AS a", "CAST(id / 16 AS LONG) AS b")
    rows = df.select("a", "b", zvalue(F.col("a"), F.col("b"), bits=4).alias("z")).collect()
    # bijective on the 4-bit x 4-bit grid, and matches the Python interleave
    zs = {r.z for r in rows}
    assert len(zs) == 256 and min(zs) == 0 and max(zs) == 255
    for r in rows:
        expect = sum(((r.a >> i) & 1) << (2 * i + 1) | ((r.b >> i) & 1) << (2 * i) for i in range(4))
        assert r.z == expect


def test_zorder_write_prunes_on_both_columns(spark, tmp_path):
    # uniform 2-d grid so clustering quality is measurable. y must be
    # INDEPENDENT of x: the previous (id * 37) % 256 was a bijection of
    # id % 256 = x, so each x-sorted file held only ~16 distinct y values
    # and the "x-sort cannot prune y" control below depended on where the
    # range sampler (seeded by session RDD ids) happened to cut — flaky
    # across suite orderings. id DIV 256 decouples the axes: every
    # x-range file now spans the full y domain deterministically.
    df = spark.range(64_000).selectExpr(
        "id AS rowid", "CAST(id % 256 AS LONG) AS x",
        "CAST((id DIV 256) % 256 AS LONG) AS y",
    )
    zdir = str(tmp_path / "zorder")
    write_zordered(df, zdir, "x", "y", num_files=16, bits=8)
    sdir = str(tmp_path / "sorted_x")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(sdir)
    )
    # nothing lost
    assert spark.read.parquet(zdir).count() == 64_000

    for col in ("x", "y"):
        zr = _file_ranges(zdir, col)
        assert len(zr) == 16
        # a 1/8th-of-domain filter must skip files on BOTH columns
        assert _files_matching(zr, 0, 31) < 16, col
    # the x-sorted layout prunes x but CANNOT prune y (every file spans y)
    sr_y = _file_ranges(sdir, "y")
    assert _files_matching(sr_y, 0, 31) == len(sr_y)
    # z-order beats it on y
    assert _files_matching(_file_ranges(zdir, "y"), 0, 31) < len(sr_y)


def test_compaction_plan_properties(spark, tmp_path):
    """FFD compaction plan on a real small-file mess: every data file
    covered exactly once, no bin over target (except a singleton holding
    one oversized file, marked already_compact), bin count sane vs the
    volume lower bound, deterministic output, and executing one bin
    (read files -> one file) preserves the rows."""
    import math
    import os

    from crdb_changefeed_publisher_spark.operators.layout import (
        compaction_plan,
        list_data_files,
    )
    from crdb_changefeed_publisher_spark.tables import load_table

    d = str(tmp_path / "mess")
    # 24 tiny files from the orders fixture
    load_table(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"), "orders") \
        .repartition(24).write.mode("overwrite").parquet(d)

    files = dict(list_data_files(spark, d))
    assert len(files) == 24
    target = 4 * max(files.values())  # force ~6 bins

    plan = compaction_plan(spark, d, target_bytes=target).collect()
    planned = [f for r in plan for f in r.files]
    assert sorted(planned) == sorted(files)          # exact cover
    for r in plan:
        assert r.total_bytes == sum(files[f] for f in r.files)
        if not r.already_compact:
            assert r.total_bytes <= target
        assert not (r.already_compact and r.n_files != 1)
    total = sum(files.values())
    assert len(plan) >= math.ceil(total / target)     # volume lower bound
    assert len(plan) <= 24                            # never worse than input

    # determinism
    again = compaction_plan(spark, d, target_bytes=target).collect()
    assert [r.files for r in again] == [r.files for r in plan]

    # execute the largest bin: row-preserving coalesce rewrite
    big = max(plan, key=lambda r: r.n_files)
    out = str(tmp_path / "compacted")
    spark.read.parquet(*big.files).coalesce(1).write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == spark.read.parquet(*big.files).count()
    assert len(list_data_files(spark, out)) == 1

    # an oversized file stays a skip-marked singleton
    plan_tight = compaction_plan(spark, d, target_bytes=1).collect()
    assert all(r.already_compact and r.n_files == 1 for r in plan_tight)
