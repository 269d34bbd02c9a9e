#!/usr/bin/env python
"""Candidate-quality study for the near-dup detectors: precision/recall of
each LSH/blocking path against EXACT 3-gram Jaccard ground truth.

The ANN recall study (tools/ivf_dial_study.py) answers "does the index
find the true neighbors"; this answers the same question for dedup: of the
document pairs whose TRUE shingle-Jaccard is >= the threshold, how many
does each candidate generator surface (recall), and how much of what it
surfaces is real (precision)? Both numbers are properties of the
generator DIALS (bands/rows, bit budget, blocking key), so the committed
table in docs/SCALE.md is the evidence behind each default.

Ground truth: exact Jaccard over distinct word-3-gram sets, computed by
an inverted-index join (explode shingles -> equi-join on shingle hash ->
per-pair intersection counts vs set sizes) — no all-pairs product; the
same bounded shape the detectors themselves use, minus the approximation.

Usage: python tools/dedup_quality.py [--sf /root/testdata/sf0.01]
                                     [--threshold 0.2] [--json out.json]
Prints one row per detector: candidates, true pairs, hits, precision,
recall.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators import dedup
from crdb_changefeed_publisher_spark.session import get_spark
from crdb_changefeed_publisher_spark.tables import load_table


def exact_jaccard_pairs(docs, threshold: float, n: int = 3):
    """Exact 3-gram Jaccard >= threshold via inverted-index join (no
    CartesianProduct: pairs only materialize for documents SHARING a
    shingle, and intersection counts partial-aggregate)."""
    sh = dedup.shingle_rows(docs, "text", "doc_id", n).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sz_a), "doc_a")
        .join(F.broadcast(sz_b), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def pair_set(df, ca="doc_a", cb="doc_b"):
    return {
        (min(r[0], r[1]), max(r[0], r[1]))
        for r in df.select(ca, cb).collect()
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--threshold", type=float, default=0.2)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    sf = args.sf if os.sep in args.sf else f"/root/testdata/sf{args.sf}"

    spark = get_spark("dedup-quality")
    docs = load_table(spark, sf, "documents").select("doc_id", "text").cache()

    truth = pair_set(exact_jaccard_pairs(docs, args.threshold))

    detectors = {
        # the engine-native xxhash64 MinHash+LSH (production path)
        "minhash_lsh_native": lambda: dedup.minhash_lsh_pairs(
            docs, threshold=args.threshold
        ),
        # the portable (oracle-verified) MinHash variant: 8 hashes, 2 bands
        "minhash_portable": lambda: dedup.minhash_portable_pairs(
            docs, threshold=args.threshold
        ),
        # SimHash 30-bit signatures, 2 chunks, hamming <= 6
        "simhash_portable": lambda: dedup.simhash_portable_pairs(docs),
        # min-shingle blocking + exact Jaccard rerank (exact-after-blocking)
        "ngram_jaccard_blocked": lambda: dedup.jaccard_pairs_minhash_block(
            docs, threshold=args.threshold
        ),
    }

    rows = []
    for name, fn in detectors.items():
        try:
            cand = pair_set(fn())
        except Exception as e:  # a detector signature changed — surface it
            rows.append({"detector": name, "error": str(e)[:120]})
            continue
        hits = cand & truth
        rows.append(
            {
                "detector": name,
                "candidates": len(cand),
                "true_pairs": len(truth),
                "hits": len(hits),
                "precision": round(len(hits) / len(cand), 4) if cand else None,
                "recall": round(len(hits) / len(truth), 4) if truth else None,
            }
        )

    print(f"sf={sf} threshold={args.threshold} true_pairs={len(truth)}")
    for r in rows:
        print(r)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"sf": sf, "threshold": args.threshold, "rows": rows}, fh, indent=2)


if __name__ == "__main__":
    main()
