#!/usr/bin/env python
"""Near-dup scaling on a REALISTIC corpus: prove the band joins are linear
when the answer is linear.

Context (docs/SCALE.md "Fifth decade"): at sf10 the driver-fixture corpus
saturates — its 31-word vocabulary makes ~29% of ALL document pairs
genuinely qualify as near-dups, so the registered pair-join dedups
(`dedup_simhash`, `dedup_ngram_jaccard`) REFUSE via the measured
block_candidate_guard. That refusal is about the FIXTURE's answer being
quadratic, not about the operators; this tool closes the loop by measuring
the same registered plan shapes (identical dials, including the guard) on
a corpus shaped like real data:

* 50,000-word Zipfian vocabulary (the fixture has 31);
* ~85% unique documents, ~15% planted near-dup clones (3% per-word
  substitution — word-3-gram Jaccard ~0.8, well over the 0.2 threshold),
  so the TRUE qualifying-pair count grows linearly in n;
* three decades (5k / 50k / 500k docs — the last matches sf10's corpus).

For each decade it times, through the exact registered entry points:
  jaccard  — dedup.jaccard_pairs_minhash_block(threshold=0.2,
             candidate_budget=1500)   [= dedup_ngram_jaccard's call]
  simhash  — dedup.simhash_near_dup_degrees(max_hamming=8, n_chunks=2,
             chunk_bits=15, candidate_budget=1500)  [= dedup_simhash's call]
  minhash  — dedup.minhash_lsh_pairs(num_hashes=16, bands=4)
             [the xxhash64 production path]
and reports wall time, output rows, per-decade growth ratios, and planted-
pair recall for the exact-Jaccard method (clone pairs found / planted).

Deterministic end to end (fixed seed, no wall clock in the data). Corpus
parquet lands under --scratch (documents.parquet + truth_pairs.parquet per
tier) so DuckDB can re-verify any number independently.

Usage: python tools/near_dup_realism.py [--decades 5000,50000,500000]
       [--scratch .scratch/realcorpus] [--json docs/near_dup_realism_r10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus generator + constants now live in the library
# (crdb_changefeed_publisher_spark/fixtures.py) so the spec layer can
# lazily build tiers; re-exported here for the existing CLI + tests.
from crdb_changefeed_publisher_spark.fixtures import (  # noqa: F401
    CLONE_FRAC,
    LEN_LO,
    LEN_HI,
    SEED,
    SUBST_P,
    VOCAB_SIZE,
    build_corpus,
)


def measure_tier(spark, tier_dir: str, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))
    docs = docs.localCheckpoint(eager=True)  # isolate generation from timing
    truth = spark.read.parquet(os.path.join(tier_dir, "truth_pairs.parquet"))

    out: dict = {"n_docs": n_docs}

    t0 = time.monotonic()
    jac = dedup.jaccard_pairs_minhash_block(
        docs, threshold=0.2, candidate_budget=1500
    ).localCheckpoint(eager=True)
    n_jac = jac.count()
    out["jaccard"] = {"sec": round(time.monotonic() - t0, 2), "pairs": n_jac}
    found = jac.join(truth, ["doc_a", "doc_b"], "leftsemi").count()
    n_truth = truth.count()
    out["jaccard"]["planted_recall"] = round(found / n_truth, 4) if n_truth else None
    out["n_truth_pairs"] = n_truth

    t0 = time.monotonic()
    deg = dedup.simhash_near_dup_degrees(
        docs, max_hamming=8, n_chunks=2, chunk_bits=15, candidate_budget=1500
    )
    n_deg = deg.count()
    out["simhash"] = {"sec": round(time.monotonic() - t0, 2), "docs_with_nbrs": n_deg}

    t0 = time.monotonic()
    mh = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.2
    ).localCheckpoint(eager=True)
    n_mh = mh.count()
    out["minhash"] = {"sec": round(time.monotonic() - t0, 2), "pairs": n_mh}
    found_mh = mh.join(truth, ["doc_a", "doc_b"], "leftsemi").count()
    out["minhash"]["planted_recall"] = (
        round(found_mh / n_truth, 4) if n_truth else None
    )

    # the 64-bit escape path the 30-bit row's guard points at, in its
    # EXACT-recall regime: 4 x 16-bit chunks pigeonhole-guarantee any pair
    # within hamming <= 3, and a 3%-substitution clone barely moves the
    # 64-bit vote sums, so planted recall here is the real measurement of
    # "use the 64-bit variant" as an escape. Guarded like the registered
    # rows: Zipfian text correlates SIGNATURES (not just the 30-bit ones),
    # so 16-bit chunk buckets also concentrate — the unguarded first run
    # of this leg OOMed the 48g JVM at 500k docs where a guard would have
    # refused with the projection.
    t0 = time.monotonic()
    sig64 = dedup.simhash_signatures(docs).localCheckpoint(eager=True)
    pops64 = dedup._explode_sig_chunks(sig64, 4, 16).groupBy(
        "chunk_idx", "chunk"
    ).agg(F.count(F.lit(1)).alias("pop"))
    proj64 = pops64.agg(
        F.sum(F.col("pop") * (F.col("pop") - 1) / 2).alias("cand"),
        F.max("pop").alias("max_pop"),
    ).first()
    out["simhash64_projected_candidates"] = int(proj64.cand or 0)
    out["simhash64_max_block_pop"] = int(proj64.max_pop or 0)
    try:
        dedup.block_candidate_guard(pops64, "pop", n_docs, 1500, "simhash64")
        # reuse sig64 (r10 advice): simhash_pairs would otherwise recompute
        # the signature pass the guard already materialized, overstating
        # the leg's recorded wall time by one full signature build
        s64 = dedup.simhash_pairs(
            docs, max_hamming=3, n_chunks=4, chunk_bits=16, signatures=sig64
        ).localCheckpoint(eager=True)
        n_s64 = s64.count()
        out["simhash64"] = {"sec": round(time.monotonic() - t0, 2), "pairs": n_s64}
        found64 = s64.join(truth, ["doc_a", "doc_b"], "leftsemi").count()
        out["simhash64"]["planted_recall"] = (
            round(found64 / n_truth, 4) if n_truth else None
        )
    except ValueError as e:
        out["simhash64"] = {
            "sec": round(time.monotonic() - t0, 2),
            "refused": str(e).split(". ")[0][:200],
        }

    # the guard's own projection, recorded (not refused) for the report
    sig = dedup.simhash_portable_signatures(docs)
    chunks = dedup._explode_sig_chunks(sig, 2, 15)
    pops = chunks.groupBy("chunk_idx", "chunk").agg(F.count(F.lit(1)).alias("pop"))
    row = pops.agg(
        F.sum(F.col("pop") * (F.col("pop") - 1) / 2).alias("cand"),
        F.max("pop").alias("max_pop"),
    ).first()
    out["simhash_projected_candidates"] = int(row.cand or 0)
    out["simhash_max_block_pop"] = int(row.max_pop or 0)
    return out


def measure_exactsubstr(spark, tier_dir: str, n_docs: int) -> dict:
    """The rewrite half of dedup on the realistic corpus: time
    exact_substring_excise (registered entry point's dials: 8-gram,
    min_count 2) and record corpus-level excision totals. Output stays an
    aggregate — 5M rewritten texts never reach the driver."""
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators import text as text_ops

    docs = spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))
    docs = docs.localCheckpoint(eager=True)
    t0 = time.monotonic()
    out = text_ops.exact_substring_excise(docs, n=8, min_count=2)
    row = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_removed_words").alias("removed"),
    ).first()
    return {
        "n_docs": n_docs,
        "exactsubstr": {
            "sec": round(time.monotonic() - t0, 2),
            "docs": int(row.docs),
            "words": int(row.words),
            "removed": int(row.removed),
            "removed_frac": round(row.removed / row.words, 5) if row.words else None,
        },
    }


def measure_minhash16(spark, tier_dir: str, n_docs: int) -> dict:
    """Decade curve for the REGISTERED realism family (r11 swap round 9):
    the 16-hash/4-band PORTABLE MinHash pair build + degree view, the
    exact entry points behind realism_minhash_degrees (which runs only at
    the 500k tier under its DuckDB twin). Records wall time, rows, and planted recall per tier
    so the registered row carries its own scaling story like every other
    near-dup path."""
    import time as _time

    from crdb_changefeed_publisher_spark.operators import dedup

    docs = spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))
    docs = docs.localCheckpoint(eager=True)
    truth = spark.read.parquet(os.path.join(tier_dir, "truth_pairs.parquet"))
    n_truth = truth.count()

    out: dict = {"n_docs": n_docs, "n_truth_pairs": n_truth}
    t0 = _time.monotonic()
    pairs = dedup.minhash_portable_pairs(
        docs, threshold=0.2, coeffs=dedup.PORTABLE_COEFFS16, bands=4
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    out["minhash16_pairs"] = {
        "sec": round(_time.monotonic() - t0, 2), "pairs": n_pairs,
    }
    found = pairs.join(truth, ["doc_a", "doc_b"], "leftsemi").count()
    out["minhash16_pairs"]["planted_recall"] = (
        round(found / n_truth, 4) if n_truth else None
    )
    t0 = _time.monotonic()
    deg = dedup.minhash_portable_degrees(docs, pairs=pairs)
    out["minhash16_degrees"] = {
        "sec": round(_time.monotonic() - t0, 2),
        "docs_with_nbrs": deg.count(),
    }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--decades", default="5000,50000,500000")
    ap.add_argument("--scratch", default=".scratch/realcorpus")
    ap.add_argument("--json", default=None)
    ap.add_argument("--ops", default="pairs",
                    choices=["pairs", "exactsubstr", "minhash16"])
    args = ap.parse_args()
    decades = [int(x) for x in args.decades.split(",")]

    from crdb_changefeed_publisher_spark.session import get_spark

    spark = get_spark("near_dup_realism")

    tiers = []
    for n in decades:
        tier_dir = os.path.join(args.scratch, f"n{n}")
        if not os.path.exists(os.path.join(tier_dir, "documents.parquet")):
            t0 = time.monotonic()
            info = build_corpus(n, tier_dir)
            print(f"built n={n}: {info} in {time.monotonic() - t0:.1f}s", flush=True)
        if args.ops == "exactsubstr":
            res = measure_exactsubstr(spark, tier_dir, n)
        elif args.ops == "minhash16":
            res = measure_minhash16(spark, tier_dir, n)
        else:
            res = measure_tier(spark, tier_dir, n)
        print(json.dumps(res), flush=True)
        tiers.append(res)

    op_names = {
        "exactsubstr": ("exactsubstr",),
        "minhash16": ("minhash16_pairs", "minhash16_degrees"),
        "pairs": ("jaccard", "simhash", "minhash", "simhash64"),
    }[args.ops]
    ratios = {}
    for op in op_names:
        rs = []
        for lo, hi in zip(tiers, tiers[1:]):
            a, b = lo[op]["sec"], hi[op]["sec"]
            rs.append(round(b / a, 2) if a > 0 else None)
        ratios[op] = rs
    report = {
        "seed": SEED,
        "vocab_size": VOCAB_SIZE,
        "clone_frac": CLONE_FRAC,
        "subst_p": SUBST_P,
        "tiers": tiers,
        "decade_time_ratios": ratios,
    }
    print(json.dumps(report), flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
