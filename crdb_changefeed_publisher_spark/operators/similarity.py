"""Similarity search over embedding columns (array<float>).

Paths:

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — an embarrassingly parallel map over corpus partitions followed by
  a per-query top-k (ranking window on the query key). Exact; the baseline.
- multi-probe SRP-LSH top-k: signed-random-projection buckets, reranked
  exactly.
- IVF (inverted-file) top-k over in-engine trained k-means cells, flat
  (ivf_topk_trained) or two-level (ivf_topk_two_level): queries probe only
  their nearest cell(s). At 100 TB the corpus is written partitioned by cell
  id so a probe prunes partitions at the scan; recall < 1 by construction.

Math is sequential-fold double precision (functions/vectors.py), so results
are reproducible and oracle-comparable bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.functions.vectors import as_double, cosine_arrow


_MAX_QUERIES = 100_000  # query-matrix collect guard: 100k x 64 doubles ~ 50 MB
# broadcast-sized by contract; beyond that, chunk the query set or use the
# LSH/IVF paths with a distributed probe stage.


def _collect_query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Bounded driver collect of the (small by contract) query set, as
    (ids int64[nq], matrix float64[nq, dim], norms float64[nq])."""
    import numpy as np

    q_rows = (
        queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
        .limit(_MAX_QUERIES + 1)
        .collect()
    )
    if not q_rows:
        raise ValueError("empty query set")
    if len(q_rows) > _MAX_QUERIES:
        raise ValueError(
            f"query set exceeds {_MAX_QUERIES} rows; use the LSH/IVF path or "
            "chunk the queries"
        )
    q_ids = np.array([r.query_id for r in q_rows], dtype=np.int64)
    q_mat = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
    return q_ids, q_mat, q_norm


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    neg_group_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k of `corpus` for each row of `queries`.

    Plan shape (the 100 TB shape): collect the *query* matrix (small by
    contract) and broadcast it into an Arrow-batched mapInPandas over corpus
    partitions; each batch computes a numpy GEMM (corpus_batch x queries^T),
    keeps its partition-local top-k per query, and a final ranking window
    over the ~(partitions * k) survivors picks the global top-k. No
    per-pair expression evaluation, no O(|corpus| * |queries|) shuffle.

    Determinism: scores round to 6 decimals *before* ranking, ties break on
    neighbor id — the same contract the SQL oracle implements. Dot products
    are accumulated in float64; GEMM summation order is fixed for a given
    dimension, so results are reproducible run to run.

    `neg_group_col`: when set, only corpus rows whose group DIFFERS from
    the query's group are eligible — HARD-NEGATIVE MINING for contrastive
    training (nearest vectors that are *not* the query's class). Same plan
    shape; the group rides as one extra small column and the mask applies
    batch-locally before the top-k prune.
    """
    import numpy as np

    q_ids, q_mat, q_norm = _collect_query_matrix(queries, id_col, vec_col)
    q_groups = None
    if neg_group_col is not None:
        g_rows = (
            queries.select(F.col(id_col).alias("i"), F.col(neg_group_col).alias("g"))
            .limit(_MAX_QUERIES + 1)
            .collect()
        )
        by_id = {r.i: r.g for r in g_rows}
        q_groups = np.array([by_id[i] for i in q_ids])

    def score_partition(batches):
        for pdf in batches:
            c_ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["cv"]), dtype=np.float64)
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            c_groups = pdf["cg"].to_numpy() if q_groups is not None else None
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)  # |batch| x |q|
            sims = np.round(sims, 6)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = c_ids != qid
                if c_groups is not None:
                    mask &= c_groups != q_groups[j]
                ids, scores = c_ids[mask], col[mask]
                if len(ids) > k:
                    # partition-local prune: top-k by (score desc, id asc)
                    order = np.lexsort((ids, -scores))[:k]
                else:
                    order = np.argsort(ids)
                out_q.extend([qid] * len(order))
                out_n.extend(ids[order])
                out_s.extend(scores[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    c_cols = [F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")]
    if neg_group_col is not None:
        c_cols.append(F.col(neg_group_col).alias("cg"))
    c = corpus.select(*c_cols)
    survivors = c.mapInPandas(
        score_partition, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score", "rnk")
    )


def srp_bits_for(n_corpus: int, target_bucket: int = 300, lo: int = 4, hi: int = 24) -> int:
    """The executable form of the SRP-LSH sizing rule (docs/SCALE.md,
    measured at sf1): expected bucket population is n_corpus /
    2^bits_per_table, and the candidate join is quadratic in it, so
    bits_per_table = ceil(log2(n_corpus / target_bucket)) — "add ~3 bits
    per 10x". Clamped to [lo, hi]; default [4, 24] (below 4 the tables
    stop discriminating; above 24 bucket ids would need care next to
    other packed fields).

    Computed in INTEGER arithmetic — smallest b with target_bucket*2^b >=
    n_corpus, which equals the ceil-log2 form exactly — so a SQL oracle
    can derive the identical dial from a COUNT(*) without a float log2
    boundary (the known cross-engine half-tie trap, docs/NEXT.md).

    Measured anchor (sf1, 20k vectors, 8 tables, 2 probes): 4 bits =
    43.0 s / recall 0.99 (scans nearly everything), the rule's 6 bits =
    11.1 s / 0.81, 7 bits = 5.5 s / 0.63 — on an ISOTROPIC corpus where
    recall is bounded by scan fraction; clustered corpora hold recall
    far better at the same bits."""
    b = lo
    while b < hi and (target_bucket << b) < n_corpus:
        b += 1
    return b


def srp_planes(
    seed: int = 42, dim: int = 64, n_tables: int = 8, bits_per_table: int = 4
):
    """Seeded hyperplanes for SRP-LSH, ROUNDED to 6 decimals so the exact
    same doubles can be embedded as literals in an oracle SQL string — this
    is what makes the whole approximate operator value-verifiable."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((dim, n_tables * bits_per_table)), 6)


def srp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    bits_per_table: int = 4,
    n_probes: int = 2,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bits: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-probe signed-random-projection LSH.

    L independent hash tables of b hyperplane sign bits each; a corpus
    vector is a candidate for a query when ANY table's b-bit bucket matches
    (SRP bit collision prob = 1 - angle/pi — the classic recall/cost dial).
    Each query additionally probes, per table, the `n_probes` buckets
    obtained by flipping its nearest-to-boundary bits (smallest |margin|) —
    the standard multi-probe trick: recall of many more tables at the cost
    of a few extra probe rows on the (tiny) query side only.

    Scale shape (round-2 rewrite): the signature pass emits (id, table,
    bucket) ONLY — round 1 carried the full vector through the signature
    explode, an L-fold shuffle amplification of the embedding payload at
    100 TB. Vectors are re-joined by id just for the candidate-local rerank.
    Deterministic end-to-end: seeded planes rounded to 6 decimals, margins
    rounded before the sign/argmin, scores rounded before ranking, id
    tiebreaks — so the oracle (same planes as SQL literals) reproduces every
    bucket, probe, candidate, and rank.

    Self-sizing (round-8): pass `max_bits` to draw the plane MASTER at
    `max_bits` planes per table and use only each table's first
    `bits_per_table` of them. The master is a fixed literal for fixed
    (seed, dim, n_tables, max_bits), so an oracle can freeze ALL max_bits
    planes once and select `bit < b` where b is derived from the corpus
    count (srp_bits_for) — the dial scales with the data while both
    engines keep hashing with identical numbers.
    """
    import numpy as np

    if max_bits is not None:
        if bits_per_table > max_bits:
            raise ValueError(f"bits_per_table {bits_per_table} > max_bits {max_bits}")
        master = srp_planes(seed, dim, n_tables, max_bits)
        planes = np.concatenate(
            [
                master[:, t * max_bits : t * max_bits + bits_per_table]
                for t in range(n_tables)
            ],
            axis=1,
        )
    else:
        planes = srp_planes(seed, dim, n_tables, bits_per_table)
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)

    def signatures(df: DataFrame, prefix: str, probe: bool) -> DataFrame:
        def run(batches):
            for pdf in batches:
                mat = np.array(list(pdf["v"]), dtype=np.float64)
                margins = np.round(mat @ planes, 6)  # |rows| x (L*b)
                ids = pdf["id"].to_numpy()
                n = len(ids)
                # whole-batch emit (r13 per-task-work pass): buckets for
                # every (row, table) in one reshape + tensordot instead of
                # per-table Python-list extends — same values, same
                # (id, table, bucket) pairing, row order within the batch
                # is immaterial to the downstream equi-join
                chunks = margins.reshape(n, n_tables, bits_per_table)
                buckets = ((chunks > 0) * weights).sum(axis=2)  # (n, L) int64
                ids_tl = np.tile(ids, n_tables)
                tbl_tl = np.repeat(np.arange(n_tables, dtype=np.int64), n)
                parts_id, parts_t, parts_b = [ids_tl], [tbl_tl], [buckets.T.ravel()]
                if probe:
                    # flip the n_probes smallest-|margin| bits, one at a
                    # time (stable sort => ties break on lowest bit idx)
                    order = np.argsort(np.abs(chunks), axis=2, kind="stable")
                    for p in range(min(n_probes, bits_per_table)):
                        flipped = buckets ^ (
                            np.int64(1) << order[:, :, p].astype(np.int64)
                        )
                        parts_id.append(ids_tl)
                        parts_t.append(tbl_tl)
                        parts_b.append(flipped.T.ravel())
                yield pd.DataFrame(
                    {
                        f"{prefix}_id": np.concatenate(parts_id),
                        "table_idx": np.concatenate(parts_t),
                        "bucket": np.concatenate(parts_b),
                    }
                )

        src = df.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        return src.mapInPandas(run, f"{prefix}_id long, table_idx int, bucket long")

    q_sig = signatures(queries, "query", probe=True)
    c_sig = signatures(corpus, "neighbor", probe=False)
    candidates = (
        c_sig.join(F.broadcast(q_sig), ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("neighbor_v")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("query_v")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        candidates.join(c_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("score", cosine_arrow(F.col("query_v"), F.col("neighbor_v")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score", "rnk")
    )


def build_trained_index(
    corpus: DataFrame,
    centroids_int: list[list[int]],
    out_path: str,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the trained flat-IVF assignment as the WRITE-TIME
    cell-partitioned layout — the 100 TB posture ivf_topk_trained's own
    docstring names ("at 100 TB [the assignment] happens once at write
    time ... and disappears from the query path"), and the flat twin of
    build_two_level_index: pay the corpus assignment pass + one exchange
    ONCE, land (id, sq_dist, vec) under index/cell=<c>/, and let every
    serve read directory-pruned scans. Centroids + scale ride along
    (cents.json) so a serving session needs only the path."""
    import json
    import os

    from crdb_changefeed_publisher_spark.operators.linalg import kmeans_assign

    assigned = kmeans_assign(
        corpus, centroids_int, scale, vec_col, id_col, keep_vec=True
    ).withColumnRenamed("cluster", "cell")
    (
        assigned.repartition("cell")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(out_path, "index"))
    )
    tmp = os.path.join(out_path, f"cents.json.tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump({"scale": scale, "centroids": centroids_int}, fh)
    os.replace(tmp, os.path.join(out_path, "cents.json"))


def load_trained_codebook(spark, path: str) -> tuple[list[list[int]], int]:
    """(centroids, scale) back from a build_trained_index directory."""
    import json
    import os

    with open(os.path.join(path, "cents.json")) as fh:
        meta = json.load(fh)
    return meta["centroids"], int(meta["scale"])


def load_trained_index(
    spark, path: str, cells: list[int] | None = None
) -> DataFrame:
    """Read the persisted flat index; with `cells` the predicate is a
    PARTITION filter — unprobed cells' directories are never opened
    (the load_two_level_index contract on the flat layout)."""
    import os

    df = spark.read.parquet(os.path.join(path, "index"))
    if cells is not None:
        df = df.filter(df.cell.isin([int(c) for c in cells]))
    return df


def ivf_topk_trained(
    queries: DataFrame,
    corpus: DataFrame | None,
    centroids_int: list[list[int]],
    k: int = 5,
    n_probe: int | None = None,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    from_index_path: str | None = None,
) -> DataFrame:
    """IVF serving over cells TRAINED IN-ENGINE: the complete ANN
    lifecycle — linalg.kmeans_quantized learns the centroids, this
    operator indexes the corpus (exact int64 nearest-centroid cells,
    linalg.kmeans_assign) and serves queries (each probes its `n_probe`
    nearest cells by the SAME exact integer distance, then exact cosine
    ranks only the probed cells' vectors). Because both the training and
    the probe arithmetic are exact and the scores round-then-tiebreak,
    the whole approximate index is value-verifiable — no frozen-literal
    codebook needed.

    Plan shape: corpus assignment is one Arrow-batched scan (at 100 TB it
    happens once at write time — the cell-partitioned layout — and
    disappears from the query path); query probes are the same pass over
    the small query side; candidates come from an equi-join on the cell
    id, never all-pairs; per-query top-k is a ranking window keyed by
    query.

    ``n_probe=None`` (the default) SELF-SIZES the probe count via
    linalg.n_probe_for (~sqrt(k), integer-exact): with kmeans_k_for
    holding cell population constant, a fixed probe count's probed
    fraction — and on isotropic data, recall — falls a decade per
    decade (the r8 `weak`); ~sqrt(k) probes hold the fraction decay to
    1/sqrt(n) at sqrt(n) candidate cost, and hold recall fully LEVEL on
    clustered corpora (measured; see n_probe_for's docstring and
    docs/SCALE.md).

    ``from_index_path`` (r13, mirroring the two-level serve) answers from
    the PERSISTED cell-partitioned layout (build_trained_index) instead
    of recomputing the corpus assignment per serve: the union of the
    queries' probed cells — bounded by k, the one driver-side collect —
    prunes the index scan to those cells' DIRECTORIES, the stored
    vectors rerank in place (no separate corpus-vector join), and
    ``corpus`` may be None. Answers are row-identical to the in-memory
    serve by construction (the index IS this assignment's output;
    tests/test_ann_index_layout.py pins it at 2 SFs)."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        _int_sq_dists,
        _quantize_np,
        kmeans_assign,
        n_probe_for,
    )

    C = np.asarray(centroids_int, dtype=np.int64)
    if n_probe is None:
        n_probe = n_probe_for(len(centroids_int))

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            d2 = _int_sq_dists(Q, C)
            # stable argsort on exact ints == (distance, cell-id) tiebreak
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), order.shape[1]),
                    "cell": order.ravel().astype(np.int32),
                }
            )

    # derive the id type from the input schema (the kmeans_assign
    # convention) — a hardcoded `long` crashes or truncates non-long ids
    qid_type = queries.schema[id_col].dataType.simpleString()
    probes = queries.select(id_col, vec_col).mapInPandas(
        probe, f"query_id {qid_type}, cell int"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qe")
    )
    if from_index_path is not None:
        # ONE probe evaluation for both consumers (the two-level serve's
        # r13 fix): the pruner's collect below and the candidate join
        # share the same query-sized frame; the lazy checkpoint is
        # materialized by the collect and reused by the join. The probed
        # cell union is bounded by k ints — driver-safe at any corpus
        # size — and prunes the scan to those cells' directories.
        probes = probes.localCheckpoint(eager=False)
        probed = sorted(
            int(r.cell) for r in probes.select("cell").distinct().collect()
        )
        candidates = load_trained_index(
            queries.sparkSession, from_index_path, cells=probed
        ).select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            as_double(F.col(vec_col)).alias("ce"),
        )
        scored = (
            candidates.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine_arrow(F.col("qe"), F.col("ce")).alias("score"),
            )
        )
    else:
        if corpus is None:
            raise ValueError(
                "ivf_topk_trained: pass a corpus DataFrame or a "
                "from_index_path (build_trained_index) to serve from"
            )
        cells = kmeans_assign(corpus, centroids_int, scale, vec_col, id_col).select(
            F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("cell")
        )
        cv = corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("ce")
        )
        scored = (
            probes.join(cells, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(qv), "query_id")
            .join(cv, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                cosine_arrow(F.col("qe"), F.col("ce")).alias("score"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score", "rnk")
    )


def _two_level_coarse_cells(
    queries: DataFrame,
    cents1: list[list[int]],
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, cell): each query's n_probe_for(k1) nearest COARSE cells
    by exact int64 distance (stable argsort = lower-cell-id ties) — the
    level-1 screen shared by the probe builder and the index pruner. The
    closure carries only the k1 ~ sqrt(k_total) coarse centroids."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        _int_sq_dists,
        _quantize_np,
        n_probe_for,
    )

    C1 = np.asarray(cents1, dtype=np.int64)
    c1_probe = min(n_probe_for(len(C1)), len(C1))

    def coarse_probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _quantize_np(pdf[vec_col].to_numpy(), scale)
            d1 = _int_sq_dists(Q, C1)
            top = np.argsort(d1, axis=1, kind="stable")[:, :c1_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), c1_probe),
                    "cell": top.reshape(-1).astype(np.int32),
                }
            )

    qid_type = queries.schema[id_col].dataType.simpleString()
    return queries.select(id_col, vec_col).mapInPandas(
        coarse_probe, f"query_id {qid_type}, cell int"
    )


def _two_level_probes(
    queries: DataFrame,
    cents1: list[list[int]],
    codebook: DataFrame,
    scale: int,
    id_col: str,
    vec_col: str,
    qcells: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cell, sub): the final probe table of the two-level serve —
    the coarse screen's cells expanded to their sub-centroids via a
    BROADCAST join of the codebook (k_total tiny rows, never collected),
    exact int64 distance evaluated JVM-side, and the (dist, cell, sub)
    window capped at n_probe_for(k_total). Shared verbatim by the
    in-memory serve and the from-index serve so both answer from the
    identical probe set. `qcells` lets a caller that already built the
    coarse screen (the from-index pruner needs the same frame) pass it
    in instead of paying the queries scan + Arrow coarse-distance pass
    twice (r13, guide §5: one evaluation per lineage)."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        n_probe_for,
        quantize_vec,
    )

    p2 = n_probe_for(codebook.count())
    if qcells is None:
        qcells = _two_level_coarse_cells(queries, cents1, scale, id_col, vec_col)
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_vec(F.col(vec_col), scale).alias("qq"),
    )
    sub_dist = F.aggregate(
        F.zip_with(F.col("qq"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy("sq_dist", "cell", "sub")
    return (
        qcells.join(F.broadcast(codebook.select("cell", "sub", "c")), "cell")
        .join(F.broadcast(qq), "query_id")
        .select("query_id", "cell", "sub", sub_dist.alias("sq_dist"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= p2)
        .select("query_id", "cell", "sub")
    )


def _two_level_rerank(
    cells: DataFrame, queries: DataFrame, probes: DataFrame,
    k: int, id_col: str, vec_col: str,
) -> DataFrame:
    """Exact-cosine rerank of the probed candidates: `cells` is the indexed
    corpus (neighbor_id, cell, sub, ce) — from the assignment exchange or
    from the persisted index — and the probe table + query vectors are
    broadcast (both query-sized), so the rerank adds NO corpus-sized
    shuffle of its own."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qe")
    )
    scored = (
        cells.join(F.broadcast(probes), ["cell", "sub"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_arrow(F.col("qe"), F.col("ce")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score", "rnk")
    )


def build_two_level_index(
    corpus: DataFrame,
    cents1: list[list[int]],
    codebook: DataFrame,
    out_path: str,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the two-level assignment as the WRITE-TIME index layout —
    the 100 TB posture every serve docstring names: the serve's only
    corpus-sized cost is the cogrouped assignment exchange
    (kmeans_assign_two_level), so pay it ONCE and land the exchange's
    output on disk partitioned by the coarse cell. Directory layout:

        out_path/index/cell=<c>/...   corpus rows (id, sub, sq_dist, vec),
                                      files sorted by (sub, id) so the
                                      probe's sub keys align with parquet
                                      row-group stats inside a cell
        out_path/codebook/            the (cell, sub, c, n_members) table
        out_path/cents1.json          the k1 coarse centroids

    Partitioning by CELL (k1 <= 8192 directories by the kmeans_k1_for
    dial — 2.4M rows/dir at 20B vectors) rather than (cell, sub)
    (k_total ~ n/250 directories — 524,288 at the eighth decade, a
    filesystem-metadata wall) keeps partition discovery cheap while a
    query's cell probes still prune at the DIRECTORY level; its sub
    probes filter inside the ~sqrt(n*250)-row cell via the broadcast
    probe join over sub-sorted row groups. Codebook + centroids ride
    along so a serving session needs only the path
    (load_two_level_codebook)."""
    import json
    import os

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_assign_two_level,
    )

    assigned = kmeans_assign_two_level(
        corpus, cents1, codebook, scale, vec_col, id_col, keep_vec=True
    )
    (
        assigned.repartition("cell")
        .sortWithinPartitions("sub", id_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(out_path, "index"))
    )
    codebook.select("cell", "sub", "c", "n_members").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_path, "codebook"))
    tmp = os.path.join(out_path, f"cents1.json.tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump({"scale": scale, "cents1": cents1}, fh)
    os.replace(tmp, os.path.join(out_path, "cents1.json"))


def load_two_level_codebook(
    spark, path: str
) -> tuple[list[list[int]], DataFrame, int]:
    """(cents1, codebook DataFrame, scale) back from a build_two_level_index
    directory — everything a serving session needs besides the queries."""
    import json
    import os

    with open(os.path.join(path, "cents1.json")) as fh:
        meta = json.load(fh)
    codebook = spark.read.parquet(os.path.join(path, "codebook"))
    return meta["cents1"], codebook, int(meta["scale"])


def load_two_level_index(
    spark, path: str, cells: list[int] | None = None
) -> DataFrame:
    """Read the persisted index; with `cells` the predicate is a PARTITION
    filter — the scan never opens unprobed cells' directories (the
    load_trained_index contract, extended to the two-level layout)."""
    import os

    df = spark.read.parquet(os.path.join(path, "index"))
    if cells is not None:
        df = df.filter(df.cell.isin([int(c) for c in cells]))
    return df


def ivf_topk_two_level(
    queries: DataFrame,
    corpus: DataFrame | None,
    cents1: list[list[int]],
    codebook: DataFrame,
    k: int = 5,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    from_index_path: str | None = None,
) -> DataFrame:
    """IVF serving over a TWO-LEVEL trained codebook — the query path of
    the seventh-decade trainer (linalg.kmeans_train_two_level): the
    corpus indexes by the operator's hierarchical assignment (L1 argmin,
    then argmin over the winning coarse cell's subs), and each query

    * ranks the k1 COARSE centroids by exact int64 distance and keeps
      its n_probe_for(k1) nearest coarse cells (never the k_total flat
      ranking — pricing the coarse screen is the point of the level),
    * ranks those cells' SUB-centroids by the same exact distance
      ((dist, cell, sub) ties) and keeps n_probe_for(k_total) final
      (cell, sub) probes,
    * equi-joins candidates on the (cell, sub) key and reranks by exact
      cosine — the ivf_topk_trained contract unchanged.

    Both probe dials stay integer-exact (n_probe_for at each level), so
    the WHOLE two-level lifecycle — train, index, coarse probe, sub
    probe, rerank — is value-verifiable against an unrolled SQL twin
    (plans/llm.py::embedding_topk_ivf_two_level).

    `from_index_path` (r12 verdict #1) serves from the PERSISTED layout
    (build_two_level_index) instead of recomputing the assignment: the
    union of the queries' coarse cells — bounded by k1 <= 8192 ints, the
    one driver-side collect, same contract as the flat load_index —
    prunes the index scan to the probed cells' DIRECTORIES, and the
    broadcast probe join selects (cell, sub) candidates inside them; the
    corpus is neither scanned in full nor shuffled at all (`corpus` may
    be None). Repeat serves therefore pay query-sized work against a
    one-time build — 232.8 s of the 20.48M in-memory serve was exactly
    this recomputed exchange. Answers are row-identical to the in-memory
    serve by construction (the index IS the same assignment's output;
    tests/test_ann_index_layout.py pins it at 2 SFs).

    At 100 TB the
    assignment is the write-time (cell, sub)-partitioned layout; the
    coarse screen costs queries k1 ~ sqrt(k_total) distance rows instead
    of k_total — the same sqrt saving on the query side that the trainer
    takes on the build side.

    DISTRIBUTED serve (r11 verdict #1): the only driver-side codebook
    state is its COUNT (the p2 dial) — no codebook row is ever
    collected. The query closure carries just the k1 coarse centroids;
    sub-ranking is a BROADCAST-JOIN of the codebook table on the probed
    cell key (k_total tiny rows — 134 MB at the 50M point, torrent-
    shipped once per executor instead of pickled into every task) with
    the exact int64 distance evaluated JVM-side (zip_with/aggregate
    over the quantized arrays — the same IEEE floor + integer ops as
    the numpy path) and the (dist, cell, sub) probe window capped at
    p2; corpus indexing is the cogrouped kmeans_assign_two_level. A
    coarse cell that ended training EMPTY has a centroid but no
    codebook rows: it consumes one of the c1 probe slots and then
    drops at the join — the SQL twin's join on s{T} drops it the same
    way."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_assign_two_level,
    )

    qcells = None
    if from_index_path is not None:
        # ONE coarse screen for both consumers (r13): the pruner's collect
        # below and the probe builder need the same (query_id, cell) frame,
        # and without a cut each would re-run the queries scan + Arrow
        # coarse-distance pass. Lazy localCheckpoint: the pruner's collect
        # materializes it, the probe join reuses it.
        qcells = _two_level_coarse_cells(
            queries, cents1, scale, id_col, vec_col
        ).localCheckpoint(eager=False)
    probes = _two_level_probes(
        queries, cents1, codebook, scale, id_col, vec_col, qcells=qcells
    )
    if from_index_path is not None:
        # prune BEFORE the scan: the union of the queries' coarse cells is
        # a superset of the final probes' cells (the p2 window only drops
        # (cell, sub) rows) and is bounded by k1, so the isin list stays
        # driver-safe at any corpus size while unprobed cells' directories
        # are never opened
        probed = sorted(
            int(r.cell) for r in qcells.select("cell").distinct().collect()
        )
        cells = load_two_level_index(
            queries.sparkSession, from_index_path, cells=probed
        ).select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            "sub",
            as_double(F.col(vec_col)).alias("ce"),
        )
    else:
        if corpus is None:
            raise ValueError(
                "ivf_topk_two_level: pass a corpus DataFrame or a "
                "from_index_path (build_two_level_index) to serve from"
            )
        # keep_vec threads the corpus vectors through the assignment's OWN
        # exchange: reranking against a separate corpus-vector table would
        # sort-merge-shuffle the full corpus a second time (measured as the
        # serve-side disk wall at 20M on one box). With the probe table and
        # query vectors broadcast (both are query-sized), the whole serve
        # pays exactly ONE full-corpus exchange — the cogroup assignment,
        # which at 100 TB is the write-time (cell, sub)-partitioned layout
        # (build_two_level_index persists exactly this exchange).
        cells = kmeans_assign_two_level(
            corpus, cents1, codebook, scale, vec_col, id_col, keep_vec=True
        ).select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            "sub",
            as_double(F.col(vec_col)).alias("ce"),
        )
    return _two_level_rerank(cells, queries, probes, k, id_col, vec_col)
