"""Distributed dense linear algebra over embedding columns.

The load-bearing pattern here is SINGLE-PASS REDUCTION TO d x d: statistics
like the Gram matrix X^T X, the dimension sums, and the covariance are tiny
(d=64 -> 4096 numbers) while X is the 100 TB side — so each partition GEMMs
its own rows into a local d x d partial (numpy, Arrow-batched) and only the
partials are shuffled. The wire cost is (partitions * d^2) rows, independent
of corpus size; this is exactly how IVF/PCA/whitening training reads a
petabyte corpus once.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sentinel index used to multiplex dimension-sum rows (j == SUMS) and the
# row-count row (i == j == SUMS) through the same (i, j, val) partial stream
_SUMS = -1


def quantize_vec(vec, scale: int = 1024):
    """Element-wise ``floor(x * scale)`` as an array<long> — the exact-
    arithmetic domain for kmeans_quantized. float->double cast and the
    multiply are identical IEEE ops on any engine, so the quantized
    vectors are engine-exact by construction."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"))


def kmeans_seeds(
    emb: DataFrame, k: int, scale: int = 1024,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> list[list[int]]:
    """Deterministic pseudo-random initial centroids: the quantized vectors
    of the k points with the smallest ``sha2('kmeans:' || id)`` digest
    (id tiebreak). A hash order is as good as a shuffle for seeding and —
    unlike RNG state — any engine reproduces it from the data alone. The
    selection is a top-k (TakeOrderedAndProject at scale, never a full
    sort materialization); k rows collect (KB)."""
    rows = (
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.sha2(F.concat(F.lit("kmeans:"), F.col(id_col).cast("string")), 256).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    return _quantize_np([r._v for r in rows], scale).tolist()


def _quantize_np(vals, scale: int) -> "np.ndarray":
    """numpy twin of quantize_vec: float32 -> float64 is exact, the
    multiply and floor are the same IEEE ops Spark/DuckDB run, so all
    three paths produce identical int64 components."""
    X = np.stack(vals).astype(np.float64)
    return np.floor(X * scale).astype(np.int64)


KMEANS_K_CHOICES = tuple(1 << j for j in range(3, 14))  # 8 .. 8192


def kmeans_k_for(n: int, cell_target: int = 250) -> int:
    """Executable k dial (the srp_bits_for convention): the smallest
    power-of-two cell count with ``k * cell_target >= n`` from
    KMEANS_K_CHOICES — i.e. expected cell population stays ~cell_target
    as the corpus grows, so a query's candidate set is a budget of
    ``n_probe * cell_target`` instead of n/8. INTEGER-EXACT on purpose:
    a SQL oracle derives the identical k from COUNT(*) with the same
    comparison (no float log2 boundary to flip between engines).

    SATURATION guard (the dedup_simhash convention, r8 verdict #1): past
    the largest choice's capacity (8192 * cell_target = 2.048M vectors
    by default — extended from 1024 in r10, with Lloyd + the probe path
    proven k-generic by a value-exact k=2048 oracle twin at
    cell_target=2) a silent clamp would quietly regress cell population
    — REFUSE instead, pointing at the fix (extend KMEANS_K_CHOICES; the
    oracle twin, plans/llm.py::_kmeans_ctes's kdial CTE, renders the
    same choice list programmatically, and the pdial CTE's p-range
    covers ceil-sqrt of the largest choice)."""
    for k in KMEANS_K_CHOICES:
        if k * cell_target >= n:
            return k
    raise ValueError(
        f"kmeans_k_for saturated: n={n} exceeds the largest cell-count "
        f"choice's capacity ({KMEANS_K_CHOICES[-1]} * {cell_target} = "
        f"{KMEANS_K_CHOICES[-1] * cell_target}); use the two-level "
        "trainer (kmeans_train_two_level — capacity "
        f"{KMEANS_K_CHOICES[-1]}^2 * cell_target, exactness preserved) "
        "or extend KMEANS_K_CHOICES (and the oracle kdial CTE's VALUES "
        "list) rather than letting cell population grow past cell_target"
    )


def kmeans_k1_for(n: int, cell_target: int = 250) -> int:
    """Executable LEVEL-1 cell-count dial for the two-level trainer: the
    smallest power-of-two k1 from KMEANS_K_CHOICES with
    ``k1 * k1 * cell_target >= n``, i.e. k1 ~ ceil(sqrt(n/cell_target)).
    With per-cell level-2 counts from kmeans_k_for, final (cell, sub)
    populations stay ~cell_target while BOTH training levels cost
    ~n * sqrt(n/cell_target) distance ops per iteration instead of flat
    Lloyd's n^2/cell_target — the trainer wall the sixth-decade
    measurement named (Lloyd 607 s at 2M vectors, docs/SCALE.md).
    INTEGER-EXACT like every sizing dial: a SQL oracle derives the
    identical k1 from COUNT(*) with the same squared comparison.
    Capacity: 8192^2 * 250 = 16.8e12 vectors — the seventh decade and
    far beyond; past it, refuse (same convention as kmeans_k_for)."""
    for k in KMEANS_K_CHOICES:
        if k * k * cell_target >= n:
            return k
    raise ValueError(
        f"kmeans_k1_for saturated: n={n} exceeds "
        f"{KMEANS_K_CHOICES[-1]}^2 * {cell_target}; extend "
        "KMEANS_K_CHOICES (and the oracle kdial1 CTE's VALUES list)"
    )


def n_probe_for(k: int, min_probe: int = 3) -> int:
    """Executable IVF probe-count dial: the smallest integer p >=
    min_probe with ``p * p >= k`` (i.e. ceil(sqrt(k)), floored at
    min_probe) — INTEGER-EXACT so a SQL oracle derives the identical p
    from its own k dial with the same comparison.

    Why sqrt — the measured trade (docs/SCALE.md "IVF probe dial"):
    with kmeans_k_for holding cell population ~constant, a FIXED probe
    count probes a fraction n_probe/k that falls a decade per decade,
    and on the ISOTROPIC fixture recall@5 fell with it (0.74 -> 0.68 ->
    0.21 across sf0.01/0.1/1 — the r8 `weak`). The sf1 sweep shows
    isotropic recall is a function of SCAN FRACTION alone (probes and
    multi-assignment land on one curve: 2.3% -> 0.21, 9.4% -> 0.47,
    25% -> 0.74, 50% -> 0.92) — the information limit of cell-blocking
    on iid noise, so NO sublinear-cost dial can hold isotropic recall
    level. p ~ sqrt(k) is the chosen point on that frontier: the
    candidate budget p * cell_target grows only as sqrt(n) while the
    probed fraction decays 1/sqrt(n) instead of 1/n (sf1: 0.21 -> 0.47
    measured). Where the corpus HAS cluster structure — every real
    embedding corpus — nearest-cell probing escapes the fraction limit
    entirely: the same self-sized dials measure recall@5 = 1.000 on the
    16-cluster fixture at BOTH 2k (3/8 probed) and 20k (12/128 probed)
    points, i.e. level recall at sqrt-cost where it is achievable at
    all."""
    p = min_probe
    while p * p < k:
        p += 1
    return p


def _int_sq_dists(Q: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Exact int64 squared L2 distances, (n, k), in matmul form:
    ``|q|^2 - 2 q.C^T + |c|^2`` — memory is n*k ints, never the
    (n, k, d) diff tensor (k can be 1024 by the dial). Magnitudes:
    |q|^2 <= d*(4*scale)^2 ~ 2^28 and |q.c| <= d*(2*scale)^2 ~ 2^26,
    exact in int64 with orders of magnitude to spare.

    The cross term runs through float64 dgemm when the measured
    magnitudes allow: with m = max|Q|, c = max|C|, every product and
    every partial sum of a d-term dot is an integer of absolute value
    <= d*m*c, and integers below 2^53 are EXACT in float64 under any
    summation order/blocking/FMA — so BLAS returns the identical int64
    values ~100x faster than numpy's loop-based integer matmul (the
    gap that priced the decade drives; at scale=1024, d=64 the bound
    is d*(4*scale)^2 = 2^36, sixteen bits of headroom). Inputs past
    the guard fall back to the integer matmul, keeping the function
    total; tests pin path equality at the guard boundary."""
    qq = (Q * Q).sum(axis=1)
    cc = (C * C).sum(axis=1)
    d = Q.shape[1] if Q.ndim == 2 else 0
    mq = int(np.abs(Q).max(initial=0))
    mc = int(np.abs(C).max(initial=0))
    if d * mq * mc < (1 << 52):
        qc = (Q.astype(np.float64) @ C.T.astype(np.float64)).astype(np.int64)
    else:
        qc = Q @ C.T
    return qq[:, None] - 2 * qc + cc[None, :]


def kmeans_assign(
    emb: DataFrame, centroids: list[list[int]], scale: int = 1024,
    vec_col: str = "embedding", id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (exact integer squared
    L2; ties break to the lower cluster id): (id, cluster, sq_dist).
    Arrow-batched numpy — one (batch x k) int64 matmul per batch, no
    shuffle, no per-row Python — so one Lloyd assignment pass over a
    100 TB corpus is scan-bound, and np.argmin's first-minimum rule IS
    the lower-cluster-id tiebreak.

    ``keep_vec=True`` threads the raw vector through the pass (the
    kmeans_assign_two_level convention): the assignment's own output then
    carries everything a write-time cell-partitioned index needs, so the
    index build never re-joins a separate vector table."""
    import pandas as pd

    C = np.asarray(centroids, dtype=np.int64)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            d2 = _int_sq_dists(Q, C)
            best = d2.argmin(axis=1)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cluster": best.astype(np.int32),
                "sq_dist": d2[np.arange(len(best)), best],
            }
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    id_type = emb.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cluster int, sq_dist long"
    if keep_vec:
        schema += f", {vec_col} {emb.schema[vec_col].dataType.simpleString()}"
    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def kmeans_train_multi(
    emb: DataFrame,
    seed_sets: list[list[list[int]]],
    n_iters: int = 3,
    scale: int = 1024,
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train SEVERAL independent centroid sets in lockstep over ONE
    persisted corpus scan (r14, guide §5: one evaluation per lineage).

    Each set evolves by exactly kmeans_train's rules — argmin assignment
    with lower-id ties, element-wise floor means, empty clusters carry
    forward — and the per-set arithmetic is untouched by the fusion:
    integer sums are associative/commutative, so accumulating several
    sets' statistics in the same batch loop yields bit-identical
    centroids to training each set alone. What the fusion removes is the
    REDUNDANT data motion when a session needs more than one codebook
    from the same corpus (the flat IVF codebook and the two-level
    level-1 cells): one ``emb.select(vec_col)`` persist instead of one
    per set, and one Arrow pass + one KB-sized stats collect per
    iteration instead of one per set per iteration.

    Identical seed sets are trained ONCE and the result fanned back to
    every requesting position — at tiers where the sizing dials agree
    (kmeans_k_for == kmeans_k1_for up to ~16k vectors) the second
    trainer costs nothing at all.
    """
    import pandas as pd

    uniq: list[list[list[int]]] = []
    idx_for: list[int] = []
    for s in seed_sets:
        for j, u in enumerate(uniq):
            if u == s:
                idx_for.append(j)
                break
        else:
            idx_for.append(len(uniq))
            uniq.append([list(c) for c in s])
    cents: list[list[list[int]]] = [[list(c) for c in s] for s in uniq]
    ks = [len(s) for s in cents]
    d = len(cents[0][0])
    vecs = emb.select(vec_col).persist()

    def update_pass(Cs: list["np.ndarray"]):
        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Ss = [np.zeros((k, d), dtype=np.int64) for k in ks]
            ns = [np.zeros(k, dtype=np.int64) for k in ks]
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
                for j, C in enumerate(Cs):
                    best = _int_sq_dists(Q, C).argmin(axis=1)
                    np.add.at(Ss[j], best, Q)
                    ns[j] += np.bincount(best, minlength=ks[j])
            frames = []
            for j in range(len(Cs)):
                live = np.nonzero(ns[j])[0]
                if not len(live):
                    continue
                frames.append(
                    pd.DataFrame(
                        {
                            "set_idx": np.full(len(live) * (d + 1), j, dtype=np.int32),
                            "cluster": np.repeat(live, d + 1).astype(np.int32),
                            "pos": np.tile(np.arange(-1, d), len(live)).astype(np.int32),
                            "val": np.concatenate(
                                [np.concatenate(([ns[j][c]], Ss[j][c])) for c in live]
                            ),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

        return part

    try:
        for _ in range(n_iters):
            Cs = [np.asarray(c, dtype=np.int64) for c in cents]
            stats = (
                vecs.mapInPandas(update_pass(Cs), "set_idx int, cluster int, pos int, val long")
                .groupBy("set_idx", "cluster", "pos")
                .agg(F.sum("val").alias("v"))
                .collect()
            )
            sums: dict[tuple[int, int], dict[int, int]] = {}
            for r in stats:
                sums.setdefault((int(r.set_idx), int(r.cluster)), {})[int(r.pos)] = int(r.v)
            new_cents = [list(s) for s in cents]  # empty clusters keep their centroid
            for (j, cid), by_pos in sums.items():
                n = by_pos[-1]
                new_cents[j][cid] = [by_pos[i] // n for i in range(d)]
            cents = new_cents
    finally:
        vecs.unpersist()
    return [cents[j] for j in idx_for]


def kmeans_train(
    emb: DataFrame, k: int = 8, n_iters: int = 3, scale: int = 1024,
    vec_col: str = "embedding", id_col: str = "vec_id",
    seeds: list[list[int]] | None = None,
) -> list[list[int]]:
    """Distributed Lloyd k-means in EXACT INTEGER arithmetic — the learned
    clustering is deterministic and engine-exact, so even the training
    loop is oracle-verifiable (the property that lets in-engine training
    replace frozen-literal codebooks at scale).

    Scheme: quantize components to ``floor(x * scale)`` (int64), seed k
    centroids by hash order (kmeans_seeds), then per iteration one
    Arrow-batched pass per partition (the gram_covariance partial-
    reduction shape) computes the argmin assignment AND accumulates
    per-cluster component sums + counts locally; only k*(d+1) longs per
    partition shuffle into a groupBy(cluster, pos) combine, and k rows
    collect (KB). New centroids are ELEMENT-WISE FLOOR MEANS — exact
    ``sums[i] // n`` on the driver — so centroids stay integer and every
    distance stays exact; empty clusters carry their previous centroid
    forward. The oracle's ``floor(sum::DOUBLE / n)`` equals exact floor
    division because a non-integer quotient sits at least 1/n from any
    integer while the double quotient of exact-<2^53 operands errs by
    <= ~2^-40 of that (see plans/llm.py spec).

    Returns the final INTEGER centroids — the in-engine replacement for
    a frozen codebook, consumed by kmeans_assign (cell index),
    dedup_semantic (SemDeDup cells) and similarity.ivf_topk_trained (ANN
    serving). Driver state per iteration is k*d ints, independent of
    corpus size; total cost is n_iters scans, each shuffling
    partition-count-sized partials.

    ``seeds`` (r14): precomputed initial centroids (kmeans_seeds output)
    — pass when the caller already paid the seed top-k job (e.g. one
    seed list at max(k, k1) sliced for several trainers; the hash order
    is a fixed total order, so seeds(k) == seeds(kmax)[:k])."""
    if seeds is None:
        seeds = kmeans_seeds(emb, k, scale, vec_col, id_col)
    return kmeans_train_multi(emb, [seeds], n_iters, scale, vec_col)[0]


def kmeans_quantized(
    emb: DataFrame, k: int = 8, n_iters: int = 3, scale: int = 1024,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Train (kmeans_train) then assign (kmeans_assign) in one call:
    the final (id, cluster, sq_dist) labeling under the learned
    centroids."""
    cents = kmeans_train(emb, k, n_iters, scale, vec_col, id_col)
    return kmeans_assign(emb, cents, scale, vec_col, id_col)


def _local_lloyd_exact(
    ids: "np.ndarray", Q: "np.ndarray", k: int, n_iters: int
) -> "np.ndarray":
    """Exact-integer Lloyd on ONE in-memory cell — the level-2 trainer.
    Every rule is the distributed trainer's, verbatim: hash-order seeds
    (sha256('kmeans:' || id) hex, id tiebreak — the kmeans_seeds
    construction, so SQL's row_number over the same expression matches),
    argmin assignment with lower-sub-id ties, element-wise FLOOR means
    (numpy int64 floor division == Python // == the oracle's
    floor(sum::DOUBLE / n) by the <2^53 argument), empty clusters carry
    their previous centroid. Fewer rows than k seeds fewer clusters —
    identical to the SQL twin's ``cid < k`` over however many rows the
    cell has."""
    import hashlib

    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.sha256(f"kmeans:{int(ids[i])}".encode()).hexdigest(),
            int(ids[i]),
        ),
    )
    C = Q[order[: min(k, len(ids))]].astype(np.int64).copy()
    for _ in range(n_iters):
        best = _int_sq_dists(Q, C).argmin(axis=1)
        new_c = C.copy()
        for c in np.unique(best):
            members = Q[best == c]
            new_c[c] = members.sum(axis=0) // len(members)
        C = new_c
    return C


def kmeans_train_two_level(
    emb: DataFrame,
    cell_target: int = 250,
    n_iters: int = 3,
    scale: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n: int | None = None,
    max_cell_rows: int | None = None,
    cents1: list[list[int]] | None = None,
) -> tuple[list[list[int]], DataFrame]:
    """Two-level exact Lloyd — the seventh-decade trainer (r10 verdict
    #1). Flat Lloyd is n*k per iteration with k ~ n/cell_target, i.e.
    quadratic in corpus size: the sixth-decade measurement
    (docs/ivf_dial_study_r10_sf100.json) showed training, not probing,
    is the wall (607 s at 2M vectors, k=8192 — the dial's capacity).
    Splitting the codebook keeps EVERY step in the exact-integer domain
    (nothing is sampled, so the oracle story survives intact — the
    alternative mini-batch trainer needs a tolerance contract):

    * LEVEL 1: flat exact Lloyd (kmeans_train, unchanged) with
      k1 = kmeans_k1_for(n) ~ sqrt(n/cell_target) coarse cells — cost
      n * sqrt(n/cell_target) per iteration.
    * PARTITION: one exact assignment pass (kmeans_assign) keys every
      vector by its coarse cell; vectors shuffle ONCE on the cell key.
    * LEVEL 2: per-cell exact Lloyd via applyInPandas — each cell holds
      ~n/k1 ~ sqrt(n*cell_target) vectors (2.3k at 2M, 72k at 100 TB /
      20B vectors: comfortably in-memory per task), trains its own
      k2 = kmeans_k_for(cell_n) sub-centroids with the SAME seeds /
      ties / floor-mean / carry-forward rules, entirely cell-local —
      summed cost is again n * sqrt(n/cell_target) per iteration.

    Total: ~2 n sqrt(n/cell_target) distance ops per iteration vs flat
    n^2/cell_target — 140x cheaper at 20M vectors — and capacity moves
    from KMEANS_K_CHOICES[-1] * cell_target (2.048M) to the square
    (16.8e12). Final (cell, sub) populations stay ~cell_target by the
    per-cell dial, so the probe-side scan-fraction contract carries
    over unchanged (flatten the codebook and probe it like any IVF
    index — tools/ivf_dial_study.py --two-level measures exactly that).

    Returns (level1_centroids, codebook DataFrame(cell int, sub int,
    c array<long>, n_members long)). The codebook STAYS a DataFrame —
    k_total ~ n/cell_target rows is driver-safe only at measurement
    scale; at 100 TB it is a table other jobs join/broadcast, never
    driver state. It is returned PERSISTED and materialized (training
    is a job, not a view) — callers unpersist when done. `max_cell_rows`
    is the skew guard (measured-refusal convention): a coarse cell
    larger than the bound would concentrate one task's memory, so
    refuse with the measured population instead of OOMing an executor;
    it is clamped to the per-cell dial's capacity
    (KMEANS_K_CHOICES[-1] * cell_target) so the driver-side guard
    always fires before kmeans_k_for could raise inside an executor
    task (the SQL twin's kd2 saturation arm has no refusal to mirror)."""
    import pandas as pd

    if n is None:
        n = emb.count()
    cell_dial_cap = KMEANS_K_CHOICES[-1] * cell_target
    if max_cell_rows is None:
        max_cell_rows = min(4_000_000, cell_dial_cap)
    else:
        max_cell_rows = min(max_cell_rows, cell_dial_cap)
    k1 = kmeans_k1_for(n, cell_target)
    if cents1 is None:
        cents1 = kmeans_train(emb, k=k1, n_iters=n_iters, scale=scale,
                              vec_col=vec_col, id_col=id_col)
    elif len(cents1) != min(k1, n):
        # r14: callers may hand in level-1 cells trained elsewhere (the
        # fused kmeans_train_multi pass) — but ONLY the dial-sized set;
        # a mismatched k1 would silently change cell populations. A
        # corpus smaller than the dial seeds one cell per vector
        # (kmeans_seeds returns at most n rows), as the internal
        # trainer does.
        raise ValueError(
            f"kmeans_train_two_level: provided cents1 has {len(cents1)} "
            f"cells but min(kmeans_k1_for(n={n}), n) = {min(k1, n)}"
        )

    # tag each vector with its coarse cell IN the scan that reads it —
    # joining a separate kmeans_assign output back on the id would
    # shuffle the full vector corpus twice (sort-merge join + the cell
    # groupBy; measured as the disk wall at 20M vectors on one box).
    # With the tag pass, the cell-key groupBy below is the design's ONE
    # full-corpus exchange.
    C1 = np.asarray(cents1, dtype=np.int64)

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            pdf = pdf.copy()
            pdf["cluster"] = _int_sq_dists(Q, C1).argmin(axis=1).astype("int32")
            yield pdf

    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()
    keyed = emb.select(id_col, vec_col).mapInPandas(
        tag, f"{id_col} {id_type}, {vec_col} {vec_type}, cluster int"
    )
    # the tag scan (quantize + argmin over the full corpus) is the
    # dominant cost past 20M vectors; without the persist the skew
    # guard, the codebook build, and every downstream codebook action
    # would each recompute it. MEMORY_ONLY deliberately: the level-2
    # exchange already writes the full tagged corpus to local disk
    # (~27 GB at 100M vectors), and a MEMORY_AND_DISK cache spills a
    # second corpus-sized copy onto the same disk — measured as the
    # eighth-decade wall (102.4M train died SPILL_OUT_OF_MEMORY at
    # 1,903 s with the exchange alone fitting comfortably). Blocks that
    # exceed the storage pool are recomputed, never spilled.
    keyed = keyed.persist(StorageLevel.MEMORY_ONLY)

    try:
        pops = keyed.groupBy("cluster").count()
        worst = pops.agg(F.max("count").alias("m")).first().m or 0
        if worst > max_cell_rows:
            raise ValueError(
                f"kmeans_train_two_level: largest coarse cell holds {worst:,} "
                f"rows (> max_cell_rows={max_cell_rows:,}) — level-2 training "
                "is cell-local, so this cell would concentrate in one task. "
                "Raise k1 (lower cell_target), raise max_cell_rows if the "
                "executors have the memory, or pre-split the hot cell."
            )
    except Exception:
        keyed.unpersist()
        raise

    def train_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["cluster"].iloc[0])
        ids = pdf[id_col].to_numpy()
        Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
        k2 = kmeans_k_for(len(ids), cell_target)
        C = _local_lloyd_exact(ids, Q, k2, n_iters)
        best = _int_sq_dists(Q, C).argmin(axis=1)
        counts = np.bincount(best, minlength=len(C))
        return pd.DataFrame(
            {
                "cell": np.full(len(C), cell, dtype=np.int32),
                "sub": np.arange(len(C), dtype=np.int32),
                "c": [row.tolist() for row in C],
                "n_members": counts.astype(np.int64),
            }
        )

    codebook = keyed.groupBy("cluster").applyInPandas(
        train_cell, "cell int, sub int, c array<long>, n_members long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        codebook.count()  # materialize off the cached tag scan
    except Exception:
        # mirror the keyed guard above: a failed materialization must not
        # leak a persisted codebook nobody holds a handle to (ADVICE r12)
        codebook.unpersist()
        raise
    finally:
        keyed.unpersist()
    return cents1, codebook


def kmeans_train_two_level_sliced(
    emb: DataFrame,
    scratch_path: str,
    n_slices: int = 4,
    cell_target: int = 250,
    n_iters: int = 3,
    scale: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n: int | None = None,
    max_cell_rows: int | None = None,
) -> tuple[list[list[int]], DataFrame]:
    """Two-level exact Lloyd with the LEVEL-2 BUILD SLICED BY COARSE-CELL
    GROUP — the ninth-decade trainer (r12 verdict #3). The one-shot
    trainer's single cell-key exchange writes the whole tagged corpus to
    local shuffle scratch at once (~44 GB at 102.4M vectors — measured as
    this box's eighth-decade wall; ~90 GB at 200M exceeds it outright).
    This variant trades scans for scratch, the
    exact_substring_excise_sliced pattern: after the (unchanged) level-1
    train, coarse cells are PARTITIONED INTO n_slices GROUPS and each
    slice re-runs the tag scan, filters to its own cells, and pays an
    exchange of only its slice's rows — peak shuffle scratch is the
    largest slice's volume (~corpus/n_slices), while the summed exchange
    volume, and every trained value, is identical to the one-shot build.

    Slices are BALANCED BY MEASURED POPULATION, not hashed: one counting
    pass (k1 longs shuffle — the same pass that runs the skew guard
    driver-side, preserving the measured-refusal convention) yields
    per-cell counts, and cells greedy-pack into the lightest slice (LPT),
    so a popular cell cannot silently concentrate one slice back at the
    one-shot volume. Each slice's codebook lands in `scratch_path`
    (.inprogress + rename — a crashed build is never half-read), and the
    returned codebook DataFrame reads back from there: at this scale the
    codebook is a TABLE under the caller's path, not executor cache.

    VALUE-IDENTICAL to kmeans_train_two_level by construction: level-2
    training is cell-local (per-cell seeds/ties/floor-means), so grouping
    cells differently cannot change any trained value —
    tests/test_operators.py pins slice-vs-one-shot equality. Total cost:
    n_slices + 1 extra tag scans (quantize + argmin, scan-bound) bought
    for a 1/n_slices scratch bound; at 100 TB the same dial picks how
    many ingest waves build the index."""
    import os
    import shutil

    import pandas as pd

    if n_slices < 1:
        raise ValueError("kmeans_train_two_level_sliced: n_slices >= 1")
    if n is None:
        n = emb.count()
    cell_dial_cap = KMEANS_K_CHOICES[-1] * cell_target
    if max_cell_rows is None:
        max_cell_rows = min(4_000_000, cell_dial_cap)
    else:
        max_cell_rows = min(max_cell_rows, cell_dial_cap)
    k1 = kmeans_k1_for(n, cell_target)
    cents1 = kmeans_train(emb, k=k1, n_iters=n_iters, scale=scale,
                          vec_col=vec_col, id_col=id_col)
    C1 = np.asarray(cents1, dtype=np.int64)

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            pdf = pdf.copy()
            pdf["cluster"] = _int_sq_dists(Q, C1).argmin(axis=1).astype("int32")
            yield pdf

    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()

    def keyed() -> DataFrame:
        return emb.select(id_col, vec_col).mapInPandas(
            tag, f"{id_col} {id_type}, {vec_col} {vec_type}, cluster int"
        )

    # ONE counting pass: the driver-side skew guard (the one-shot
    # trainer's convention) AND the slice balancer share it
    pops = {
        int(r.cluster): int(r.n)
        for r in keyed()
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    worst = max(pops.values(), default=0)
    if worst > max_cell_rows:
        raise ValueError(
            f"kmeans_train_two_level_sliced: largest coarse cell holds "
            f"{worst:,} rows (> max_cell_rows={max_cell_rows:,}) — level-2 "
            "training is cell-local, so this cell would concentrate in one "
            "task. Raise k1 (lower cell_target), raise max_cell_rows if "
            "the executors have the memory, or pre-split the hot cell."
        )
    # LPT greedy: heaviest cell first into the lightest slice
    slice_of: dict[int, int] = {}
    loads = [0] * n_slices
    for cell, cnt in sorted(pops.items(), key=lambda kv: (-kv[1], kv[0])):
        s = loads.index(min(loads))
        slice_of[cell] = s
        loads[s] += cnt

    def train_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["cluster"].iloc[0])
        ids = pdf[id_col].to_numpy()
        Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
        k2 = kmeans_k_for(len(ids), cell_target)
        C = _local_lloyd_exact(ids, Q, k2, n_iters)
        best = _int_sq_dists(Q, C).argmin(axis=1)
        counts = np.bincount(best, minlength=len(C))
        return pd.DataFrame(
            {
                "cell": np.full(len(C), cell, dtype=np.int32),
                "sub": np.arange(len(C), dtype=np.int32),
                "c": [row.tolist() for row in C],
                "n_members": counts.astype(np.int64),
            }
        )

    tmp_out = f"{scratch_path}.inprogress"
    shutil.rmtree(tmp_out, ignore_errors=True)
    for s in range(n_slices):
        cells = sorted(c for c, sl in slice_of.items() if sl == s)
        if not cells:
            continue
        part = keyed().filter(F.col("cluster").isin(cells))
        part.groupBy("cluster").applyInPandas(
            train_cell, "cell int, sub int, c array<long>, n_members long"
        ).write.mode("overwrite" if s == 0 else "append").parquet(tmp_out)
    old_aside = f"{scratch_path}.old-{os.getpid()}"
    shutil.rmtree(old_aside, ignore_errors=True)
    had_old = os.path.exists(scratch_path)
    if had_old:
        os.rename(scratch_path, old_aside)
    os.rename(tmp_out, scratch_path)
    if had_old:
        shutil.rmtree(old_aside, ignore_errors=True)
    return cents1, emb.sparkSession.read.parquet(scratch_path)


def kmeans_assign_two_level(
    emb: DataFrame,
    cents1: list[list[int]],
    codebook: DataFrame,
    scale: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cell, sub, sq_dist) under a two-level codebook: exact L1
    argmin to the coarse cell, then exact argmin over that cell's
    sub-centroids — fully DISTRIBUTED (r11 verdict #1). The driver
    closure carries ONLY the k1 ~ sqrt(k_total) coarse centroids (small
    by the dial's own construction: 1,024 rows x 64 longs at 50M
    vectors); the k_total-row codebook is never collected. Vectors are
    tagged with their coarse cell IN the reading scan (the trainer's
    tag-pass pattern), then COGROUPED with the codebook on the cell
    key: one full-corpus exchange — the same exchange the level-2
    trainer pays, and at write time it IS the (cell, sub)-partitioned
    index layout (similarity.build_two_level_index) — while the codebook
    shuffles alongside as k_total tiny rows. The closure-collect form
    this replaces pickled the whole codebook into every task (~134 MB
    per task at the 50M point) and capped out where the driver's memory
    did; this form's codebook cost scales with the number of CELLS PER
    TASK, independent of k_total.

    `keep_vec=True` additionally emits the vector column: the vectors
    already ride the cogroup exchange, so a consumer that needs them
    next to the (cell, sub) key — the IVF rerank — reads them out of
    the SAME exchange instead of re-joining the corpus table (a second
    full-corpus sort-merge shuffle, measured as the serve-side disk
    wall at 20M on one box)."""
    import pandas as pd

    C1 = np.asarray(cents1, dtype=np.int64)

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            pdf = pdf.copy()
            pdf["cell"] = _int_sq_dists(Q, C1).argmin(axis=1).astype("int32")
            yield pdf

    id_type = emb.schema[id_col].dataType.simpleString()
    vec_type = emb.schema[vec_col].dataType.simpleString()
    tagged = emb.select(id_col, vec_col).mapInPandas(
        tag, f"{id_col} {id_type}, {vec_col} {vec_type}, cell int"
    )

    def assign_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # the empty frame's id/vec columns come from LEFT'S OWN dtypes
        # (left.iloc[:0]), never hardcoded int64 — a string-keyed foreign
        # corpus hitting a codebook-only cell must produce a zero-row
        # frame Arrow can cast to the declared schema (ADVICE r12: the
        # hardcoded int64 raised ArrowTypeError even at zero rows)
        empty = pd.DataFrame(
            {
                id_col: left[id_col].iloc[:0],
                "cell": np.array([], dtype=np.int32),
                "sub": np.array([], dtype=np.int32),
                "sq_dist": np.array([], dtype=np.int64),
                **({vec_col: left[vec_col].iloc[:0]} if keep_vec else {}),
            }
        )
        if not len(left):
            # codebook cell with no vectors in THIS corpus (possible when
            # assigning a foreign, smaller corpus) — nothing to emit
            return empty
        cell = int(left["cell"].iloc[0])
        if not len(right):
            # only reachable when assigning a corpus the codebook was NOT
            # trained on: the trainer's own corpus can't argmin into a
            # coarse cell it left empty (the same assignment built the
            # codebook groups)
            raise ValueError(
                f"kmeans_assign_two_level: coarse cell {cell} has no "
                "sub-centroids in the codebook — this corpus was not the "
                "one the codebook was trained on; retrain or use the flat "
                "assignment"
            )
        order = right.sort_values("sub")
        C = np.asarray([list(c) for c in order["c"]], dtype=np.int64)
        subs = order["sub"].to_numpy()
        Q = _quantize_np(left[vec_col].to_numpy(), scale)
        d2 = _int_sq_dists(Q, C)
        b = d2.argmin(axis=1)  # ties -> first = lowest sub (sorted order)
        return pd.DataFrame(
            {
                id_col: left[id_col].to_numpy(),
                "cell": np.full(len(Q), cell, dtype=np.int32),
                "sub": subs[b].astype(np.int32),
                "sq_dist": d2[np.arange(len(b)), b],
                **({vec_col: left[vec_col].to_numpy()} if keep_vec else {}),
            }
        )

    schema = f"{id_col} {id_type}, cell int, sub int, sq_dist long"
    if keep_vec:
        schema += f", {vec_col} {vec_type}"
    return (
        tagged.groupBy("cell")
        .cogroup(codebook.select("cell", "sub", "c").groupBy("cell"))
        .applyInPandas(assign_cell, schema)
    )


def gram_covariance(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vectors) -> one row per (i, j): Gram entry ``sum_k x_ki * x_kj`` and
    covariance ``E[x_i x_j] - E[x_i] E[x_j]``, both rounded to 4.

    One mapInPandas pass accumulates a float64 ``X^T X`` partial, the
    per-dimension sums, and the row count per PARTITION (not per Arrow
    batch — accumulators live across the batch iterator), then emits
    d^2 + d + 1 rows; a groupBy(i, j) partial-agg combines partitions.
    Nothing downstream of the scan depends on the number of vectors.
    """

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G: np.ndarray | None = None
        S: np.ndarray | None = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if G is None:
                d = X.shape[1]
                G = np.zeros((d, d))
                S = np.zeros(d)
            G += X.T @ X
            S += X.sum(axis=0)
            n += len(X)
        if G is None:
            return
        d = G.shape[0]
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame(
            {
                "i": np.concatenate([ii.ravel(), np.arange(d), [_SUMS]]),
                "j": np.concatenate([jj.ravel(), np.full(d, _SUMS), [_SUMS]]),
                "val": np.concatenate([G.ravel(), S, [float(n)]]),
            }
        )

    partials = emb.select(vec_col).mapInPandas(part, "i int, j int, val double")
    agg = partials.groupBy("i", "j").agg(F.sum("val").alias("v"))
    n_row = agg.filter((F.col("i") == _SUMS) & (F.col("j") == _SUMS)).select(
        F.col("v").alias("n")
    )
    sums = agg.filter((F.col("j") == _SUMS) & (F.col("i") >= 0)).select(
        "i", F.col("v").alias("s")
    )
    gram = agg.filter(F.col("j") >= 0).select("i", "j", F.col("v").alias("g"))
    si = sums.select(F.col("i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov = F.col("g") / F.col("n") - (F.col("s_i") / F.col("n")) * (
        F.col("s_j") / F.col("n")
    )
    return (
        gram.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            F.round(F.col("g"), 4).alias("gram"),
            F.round(cov, 4).alias("cov"),
        )
    )
