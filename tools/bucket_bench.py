#!/usr/bin/env python
"""Bucketed-write experiment (docs/NEXT.md #9, VERDICT r1 #8).

Writes sf0.1 lineitem/orders as catalog tables bucketed on the order key
(32 buckets, sorted), then times the join-heavy registered queries against
plain parquet vs the bucketed tables — same plan definitions, switched via
tables.set_bucketed_overrides. Prints a markdown table for docs/RESULTS.md.

At 100 TB this is the difference between shuffling the two largest fact
tables on every join and a zero-exchange sort-merge join: bucketing is the
write-once amortization of the join shuffle.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crdb_changefeed_publisher_spark import plans
from crdb_changefeed_publisher_spark import tables
from crdb_changefeed_publisher_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ["q3_shipping_priority", "q5_region_revenue"]
# Bucket count must scale with data volume: 32 buckets at sf0.1 made q3
# SLOWER (many small files beat the tiny shuffle saved); 8 buckets won on
# every query measured. Rule of thumb: target >= 100 MB per bucket file.
BUCKETS = int(os.environ.get("SPARK_GRAFT_BUCKETS", "8"))


def ensure_bucketed(spark) -> dict[str, str]:
    return tables.ensure_bucketed_tables(spark, SF_DIR, BUCKETS)


def time_query(spark, name: str) -> float:
    spec = plans.get_spec(name)
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    spark = get_spark("bucket-bench")
    ensure_bucketed(spark)
    rows = []
    for name in QUERIES:
        tables.set_bucketed_overrides(None)
        plain = time_query(spark, name)
        tables.set_bucketed_overrides(ensure_bucketed(spark))
        bucketed = time_query(spark, name)
        tables.set_bucketed_overrides(None)
        rows.append((name, plain, bucketed))
        print(f"{name}: plain {plain:.2f}s bucketed {bucketed:.2f}s", file=sys.stderr)
    print("| query | plain parquet (s) | bucketed (s) | speedup |")
    print("|---|---|---|---|")
    for name, p, b in rows:
        print(f"| {name} | {p:.2f} | {b:.2f} | {p / b:.2f}x |")


if __name__ == "__main__":
    main()
