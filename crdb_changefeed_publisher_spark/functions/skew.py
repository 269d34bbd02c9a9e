"""Skew-handling helpers: salted aggregation and salted joins.

AQE's skew-join handles moderate skew automatically; these are the explicit
tools for adversarial key distributions (one key = 30% of 100 TB), where
pre-splitting the hot key is the only thing that keeps a stage from being
one giant straggler task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation with a random salt: groupBy (key, salt) computes
    partials across n_salts tasks per hot key, then a second tiny groupBy
    merges. Only works for algebraic aggregates passed as partial/merge
    pairs — here: the common sum/count family, expressed as columns.

    aggs maps output name -> aggregation column usable in BOTH phases when
    re-applied (sums of sums, counts via sum of counts). For avg, compute
    sum and count separately and divide after.
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[a.alias(f"_p_{name}") for name, a in aggs.items()]
    )
    # merge phase: sums of partial sums / partial counts
    return phase1.groupBy(*key_cols).agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )
