#!/usr/bin/env python
"""Reproduce the IVF probe-dial measurements behind linalg.n_probe_for
(docs/SCALE.md "IVF probe dial"; r8 verdict #1 — the fixed-n_probe `weak`).

Two studies, one JSON line each:

1. --study isotropic (needs an embeddings fixture dir, default the sf1
   stress tier): sweep (n_probe, n_assign) over the in-engine-trained
   cells and report candidate-set recall@5 vs exact cosine truth. The
   headline result: recall collapses onto ONE curve in scan fraction
   (probes and multi-assignment are interchangeable at equal fraction) —
   the information limit of cell-blocking on iid noise, which is why no
   sublinear-cost dial can hold isotropic recall level and ~sqrt(k)
   probes (fraction decay 1/sqrt(n) at sqrt(n) cost) is the chosen
   frontier point.

2. --study clustered: the 16-cluster fixture (clustered_fixture:
   unit-norm centers + 0.35 noise, seed 11) at n=2000 and
   n=20000 through the REAL pipeline — in-engine kmeans_train with both
   dials self-sized (kmeans_k_for / n_probe_for) — demonstrating LEVEL
   recall (measured 1.000 at both scales: 3/8 then 12/128 cells probed)
   where the corpus has structure.

Candidate-set recall equals end-to-end recall@k: exact cosine rerank
keeps any true top-k neighbor that is a candidate.

Usage: python tools/ivf_dial_study.py [--study isotropic|clustered|both]
       [--sf-dir /root/repo/.scratch/testdata/sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def isotropic_sweep(spark, sf_dir: str) -> dict:
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        _int_sq_dists,
        kmeans_k_for,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE, _kmeans_cents
    from crdb_changefeed_publisher_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q = np.floor(X * KMEANS_SCALE).astype(np.int64)
    C = np.asarray(_kmeans_cents(spark, sf_dir), dtype=np.int64)
    k = len(C)
    cell_order = np.argsort(_int_sq_dists(Q, C), axis=1, kind="stable")
    qidx = np.where(ids % 25 == 0)[0]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn[qidx] @ Xn.T
    S[np.arange(len(qidx)), qidx] = -2.0  # exclude self
    truth = np.argsort(-S, axis=1)[:, :5]
    points = []
    for n_assign in (1, 2, 3):
        acell = cell_order[:, :n_assign]
        for p in (3, 6, 12, 16, 23, 32, 64):
            if p > k:
                continue
            qcells = cell_order[qidx, :p]
            hits = 0
            for qi in range(len(qidx)):
                probed = set(qcells[qi])
                for nb in truth[qi]:
                    if any(c in probed for c in acell[nb]):
                        hits += 1
            points.append(
                {
                    "n_assign": n_assign,
                    "n_probe": p,
                    "scan_fraction": round(p / k * n_assign, 4),
                    "recall_at_5": round(hits / (5 * len(qidx)), 4),
                }
            )
    return {
        "n": int(len(ids)),
        "k": k,
        "dial_n_probe": n_probe_for(k),
        "dial_k": kmeans_k_for(len(ids)),
        "n_queries": int(len(qidx)),
        "points": points,
    }


def sixth_decade_sweep(spark, sf_dir: str, qmod: int = 1000) -> dict:
    """The isotropic sweep one decade past sf10 (make_sf1.py --scale 1000
    --tables embeddings: 2M vectors), memory-bounded where the sf10 form
    would allocate a 131 GB distance matrix:

    * corpus cell assignment is CHUNKED and keeps only the top-3 cells per
      point (argpartition, then a 3-wide argsort) instead of a full
      (n, k) argsort;
    * the assignment distances use float64 BLAS — exact here, not an
      approximation: quantized components are <= KMEANS_SCALE, so every
      product is < 2^21 and every 64-term sum < 2^27, far inside float64's
      2^53 integer window (same reasoning as the oracle's exact-floor
      argument in linalg.kmeans_train);
    * exact cosine truth runs as a chunked GEMM with a running top-5 merge
      (query count is FIXED by --qmod, not n-proportional — the bench
      row's query set grows with n by design, a recall study's must not);
    * the probe grid centers on the dial (n_probe_for(k)) instead of the
      fixed small-k grid, so the frontier brackets the operating point.

    Training itself is the real pipeline: plans.llm._kmeans_cents — corpus
    count -> kmeans_k_for -> kmeans_train (k = 8192 at 2M vectors, the
    first exercise of the r10 KMEANS_K_CHOICES extension above its old
    1024 cap)."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k_for,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE, _kmeans_cents
    from crdb_changefeed_publisher_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.monotonic()
    C = np.asarray(_kmeans_cents(spark, sf_dir), dtype=np.float64)
    train_sec = round(time.monotonic() - t0, 1)
    k = len(C)

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n = len(ids)
    Qf = np.floor(X * KMEANS_SCALE)  # float64-exact int values (see docstring)
    cc = (C * C).sum(axis=1)

    n_assign_max = min(3, k)
    acell = np.empty((n, n_assign_max), dtype=np.int32)
    t0 = time.monotonic()
    for lo in range(0, n, 20000):
        q = Qf[lo: lo + 20000]
        dm = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ C.T) + cc[None, :]
        # kth clamped to the row width (r10 advice: k <= n_assign_max or a
        # short final chunk crashes argpartition with kth >= width)
        part = np.argpartition(
            dm, min(n_assign_max, dm.shape[1] - 1), axis=1
        )[:, :n_assign_max]
        rows = np.arange(part.shape[0])[:, None]
        acell[lo: lo + 20000] = part[rows, np.argsort(dm[rows, part], axis=1, kind="stable")]
    assign_sec = round(time.monotonic() - t0, 1)

    qidx = np.where(ids % qmod == 0)[0]
    nq = len(qidx)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Qn = Xn[qidx]
    # query-side full cell order (only nq x k — small)
    dq = (Qf[qidx] * Qf[qidx]).sum(axis=1)[:, None] - 2.0 * (Qf[qidx] @ C.T) + cc[None, :]
    qcell_order = np.argsort(dq, axis=1, kind="stable")

    t0 = time.monotonic()
    best_sim = np.full((nq, 5), -2.0)
    best_idx = np.full((nq, 5), -1, dtype=np.int64)
    for lo in range(0, n, 100_000):
        S = Qn @ Xn[lo: lo + 100_000].T
        # exclude self-matches
        sel = (qidx >= lo) & (qidx < lo + S.shape[1])
        S[np.where(sel)[0], qidx[sel] - lo] = -2.0
        # kth clamped to the chunk width: a final chunk of <= 5 columns
        # (n % 100_000 in 1..5) crashes argpartition otherwise (r10 advice)
        top = np.argpartition(-S, min(5, S.shape[1] - 1), axis=1)[:, :5]
        cand_sim = np.concatenate([best_sim, S[np.arange(nq)[:, None], top]], axis=1)
        cand_idx = np.concatenate([best_idx, top + lo], axis=1)
        keep = np.argpartition(-cand_sim, 5, axis=1)[:, :5]
        best_sim = cand_sim[np.arange(nq)[:, None], keep]
        best_idx = cand_idx[np.arange(nq)[:, None], keep]
    truth_sec = round(time.monotonic() - t0, 1)

    dial = n_probe_for(k)
    probes = sorted(
        {max(3, dial // 8), max(3, dial // 4), dial // 2, dial, 2 * dial,
         min(4 * dial, k)}
    )
    points = []
    for n_assign in (1, 2, 3):
        ac = acell[:, :n_assign]
        for p in probes:
            if p > k:
                continue
            hits = 0
            for qi in range(nq):
                probed = set(qcell_order[qi, :p].tolist())
                for nb in best_idx[qi]:
                    if any(int(c) in probed for c in ac[nb]):
                        hits += 1
            points.append(
                {
                    "n_assign": n_assign,
                    "n_probe": p,
                    "scan_fraction": round(p / k * n_assign, 4),
                    "recall_at_5": round(hits / (5 * nq), 4),
                }
            )
    return {
        "n": int(n),
        "k": k,
        "dial_n_probe": dial,
        "dial_k": kmeans_k_for(n),
        "n_queries": int(nq),
        "train_sec": train_sec,
        "assign_sec": assign_sec,
        "truth_sec": truth_sec,
        "points": points,
    }


def two_level_sweep(spark, sf_dir: str, qmod: int = 10_000) -> dict:
    """The SEVENTH-decade recall point (r10 verdict #1): train the
    two-level exact trainer (linalg.kmeans_train_two_level — the escape
    kmeans_k_for's raise points at past 2.048M vectors), flatten the
    (cell, sub) codebook into k_total ~ n/250 final centroids, and
    measure candidate recall@5 vs exact cosine truth at the sqrt dial,
    exactly like the sixth-decade flat sweep.

    Index-side membership is the OPERATOR's assignment (L1 argmin, then
    argmin over the winning coarse cell's sub-centroids) — at 20M
    vectors a flat argmin over 131k centroids would cost n * k_total
    ~ 2.7e12 mults, and the whole point of the two-level index is that
    nobody pays it; what recall measures is precisely the price of that
    hierarchical assignment + probing. n_assign > 1 assigns each vector
    to the best sub of each of its top-n_assign COARSE cells (the
    boundary-vector fix multi-assignment exists for). Query-side
    probing ranks ALL k_total final centroids (queries are sampled, so
    nq * k_total stays small).

    Corpus loads via pyarrow straight from parquet — 20M embedding rows
    through toPandas would materialize 20M Python lists; the flat
    float32 values reshape without any per-row objects."""
    import numpy as np
    import pyarrow.parquet as pq

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k1_for,
        kmeans_train_two_level,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE
    from crdb_changefeed_publisher_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    t0 = time.monotonic()
    cents1, codebook = kmeans_train_two_level(emb, n=n, scale=KMEANS_SCALE)
    cb = codebook.collect()
    train_sec = round(time.monotonic() - t0, 1)

    C1 = np.asarray(cents1, dtype=np.float64)
    k1 = len(C1)
    by_cell: dict[int, list] = {}
    for r in cb:
        by_cell.setdefault(int(r.cell), []).append((int(r.sub), r.c))
    subcents = {
        c: np.asarray([v for _, v in sorted(rows)], dtype=np.float64)
        for c, rows in by_cell.items()
    }
    # flat ids: (cell, sub) -> row in C_flat, in (cell, sub) order
    flat_base: dict[int, int] = {}
    mats, off = [], 0
    for c in sorted(subcents):
        flat_base[c] = off
        mats.append(subcents[c])
        off += len(subcents[c])
    C_flat = np.concatenate(mats)
    k_total = len(C_flat)

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_numpy()
    emb_col = t.column("embedding").combine_chunks()
    X = np.asarray(emb_col.values, dtype=np.float32).reshape(len(ids), -1)
    del t, emb_col
    Qf = np.floor(X.astype(np.float64) * KMEANS_SCALE)  # float64-exact ints
    cc1 = (C1 * C1).sum(axis=1)

    n_assign_max = min(3, k1)
    t0 = time.monotonic()
    # top-n_assign COARSE cells per vector, chunked
    l1cells = np.empty((len(ids), n_assign_max), dtype=np.int32)
    for lo in range(0, len(ids), 100_000):
        q = Qf[lo: lo + 100_000]
        dm = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ C1.T) + cc1[None, :]
        part = np.argpartition(
            dm, min(n_assign_max, dm.shape[1] - 1), axis=1
        )[:, :n_assign_max]
        rows = np.arange(part.shape[0])[:, None]
        l1cells[lo: lo + 100_000] = part[
            rows, np.argsort(dm[rows, part], axis=1, kind="stable")
        ]
    # best sub within each assigned coarse cell -> flat final-cell ids
    acell = np.empty((len(ids), n_assign_max), dtype=np.int64)
    for slot in range(n_assign_max):
        col = l1cells[:, slot]
        for c in np.unique(col):
            m = np.where(col == c)[0]
            Cs = subcents[int(c)]
            ccs = (Cs * Cs).sum(axis=1)
            best = np.empty(len(m), dtype=np.int64)
            for lo in range(0, len(m), 200_000):
                idx = m[lo: lo + 200_000]
                q = Qf[idx]
                dm = (q * q).sum(axis=1)[:, None] - 2.0 * (q @ Cs.T) + ccs[None, :]
                best[lo: lo + 200_000] = dm.argmin(axis=1)
            acell[m, slot] = flat_base[int(c)] + best
    assign_sec = round(time.monotonic() - t0, 1)

    qidx = np.where(ids % qmod == 0)[0]
    nq = len(qidx)
    Xn = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float64)
    del X
    Qn = Xn[qidx]

    t0 = time.monotonic()
    best_sim = np.full((nq, 5), -2.0)
    best_idx = np.full((nq, 5), -1, dtype=np.int64)
    for lo in range(0, len(ids), 100_000):
        S = Qn @ Xn[lo: lo + 100_000].T
        sel = (qidx >= lo) & (qidx < lo + S.shape[1])
        S[np.where(sel)[0], qidx[sel] - lo] = -2.0
        top = np.argpartition(-S, min(5, S.shape[1] - 1), axis=1)[:, :5]
        cand_sim = np.concatenate([best_sim, S[np.arange(nq)[:, None], top]], axis=1)
        cand_idx = np.concatenate([best_idx, top + lo], axis=1)
        keep = np.argpartition(-cand_sim, 5, axis=1)[:, :5]
        best_sim = cand_sim[np.arange(nq)[:, None], keep]
        best_idx = cand_idx[np.arange(nq)[:, None], keep]
    truth_sec = round(time.monotonic() - t0, 1)

    # query-side flat ranking over all k_total final centroids
    ccf = (C_flat * C_flat).sum(axis=1)
    qq = Qf[qidx]
    dq = (qq * qq).sum(axis=1)[:, None] - 2.0 * (qq @ C_flat.T) + ccf[None, :]
    qcell_order = np.argsort(dq, axis=1, kind="stable")

    dial = n_probe_for(k_total)
    probes = sorted(
        {max(3, dial // 8), max(3, dial // 4), dial // 2, dial, 2 * dial,
         min(4 * dial, k_total)}
    )
    points = []
    for n_assign in range(1, n_assign_max + 1):
        ac = acell[:, :n_assign]
        for p in probes:
            if p > k_total:
                continue
            hits = 0
            for qi in range(nq):
                probed = set(qcell_order[qi, :p].tolist())
                for nb in best_idx[qi]:
                    if any(int(c) in probed for c in ac[nb]):
                        hits += 1
            points.append(
                {
                    "n_assign": n_assign,
                    "n_probe": p,
                    "scan_fraction": round(p / k_total * n_assign, 4),
                    "recall_at_5": round(hits / (5 * nq), 4),
                }
            )
    return {
        "n": int(n),
        "k1": int(k1),
        "k_total": int(k_total),
        "dial_k1": kmeans_k1_for(n),
        "dial_n_probe": dial,
        "n_queries": int(nq),
        "train_sec": train_sec,
        "assign_sec": assign_sec,
        "truth_sec": truth_sec,
        "points": points,
    }


def clustered_fixture(spark, n: int, dim: int = 64, n_clusters: int = 16,
                      noise: float = 0.35, seed: int = 11):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    pts = centers[labels] + noise * rng.standard_normal((n, dim)) / (dim**0.5)
    return spark.createDataFrame(
        [(int(i), [float(round(x, 4)) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def clustered_level(spark) -> list[dict]:
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators import similarity
    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k_for,
        kmeans_train,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    out = []
    for n in (2000, 20000):
        emb = clustered_fixture(spark, n)
        k = kmeans_k_for(n)
        cents = kmeans_train(emb, k=k, n_iters=3, scale=KMEANS_SCALE)
        q = emb.filter(F.col("vec_id") % (n // 80) == 0)
        ivf = similarity.ivf_topk_trained(q, emb, cents, k=5, scale=KMEANS_SCALE)
        bf = similarity.brute_force_topk(q, emb, k=5)
        got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        truth = {(r.query_id, r.neighbor_id) for r in bf.collect()}
        out.append(
            {
                "n": n,
                "k": k,
                "n_probe": n_probe_for(k),
                "scan_fraction": round(n_probe_for(k) / k, 4),
                "recall_at_5": round(len(got & truth) / len(truth), 4),
            }
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--study", default="both",
                    choices=["isotropic", "clustered", "both", "sixth", "seventh"])
    ap.add_argument("--sf-dir", default="/root/repo/.scratch/testdata/sf1")
    ap.add_argument("--qmod", type=int, default=1000,
                    help="sixth-decade query sampling modulus (vec_id %% qmod == 0)")
    args = ap.parse_args()

    from crdb_changefeed_publisher_spark.session import get_spark

    spark = get_spark("ivf-dial-study")
    result: dict = {}
    if args.study in ("isotropic", "both"):
        result["isotropic"] = isotropic_sweep(spark, args.sf_dir)
    if args.study in ("clustered", "both"):
        result["clustered"] = clustered_level(spark)
    if args.study == "sixth":
        result["sixth_decade"] = sixth_decade_sweep(spark, args.sf_dir, args.qmod)
    if args.study == "seventh":
        result["two_level"] = two_level_sweep(spark, args.sf_dir, args.qmod)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
