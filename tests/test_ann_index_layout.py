"""Cell-partitioned ANN index layout: probing cells must become PARTITION
PRUNING at the parquet scan (the claim in docs/SCALE.md, made measurable):
the plan carries the cell predicate as a PartitionFilter, only the probed
cells' files are read, and the round-tripped index is identical to the
in-memory assignment."""

from __future__ import annotations

from pyspark.sql import functions as F


def _two_level_fixture(spark, sf_dir):
    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_train_two_level,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE
    from crdb_changefeed_publisher_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents1, codebook = kmeans_train_two_level(emb, scale=KMEANS_SCALE)
    codebook = codebook.localCheckpoint(eager=True)
    return emb, cents1, codebook, KMEANS_SCALE


def test_two_level_served_from_disk_matches_in_memory(spark, tmp_path):
    """r12 verdict #1's done criterion, correctness half: the from-index
    serve (build once, probe the persisted (cell,sub) layout) must return
    EXACTLY the in-memory serve's rows — at TWO scale factors, the same
    fixtures the registered SQL twin is verified on, so equality here is
    transitively equality against the DuckDB oracle."""
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators.similarity import (
        build_two_level_index,
        ivf_topk_two_level,
        load_two_level_codebook,
    )

    for i, sf_dir in enumerate(["/root/testdata/sf0.001", "/root/testdata/sf0.01"]):
        emb, cents1, codebook, scale = _two_level_fixture(spark, sf_dir)
        out = str(tmp_path / f"idx{i}")
        build_two_level_index(emb, cents1, codebook, out, scale=scale)
        queries = emb.filter(F.col("vec_id") % 25 == 0)
        want = {
            (r.query_id, r.rnk): (r.neighbor_id, r.score)
            for r in ivf_topk_two_level(
                queries, emb, cents1, codebook, k=5, scale=scale
            ).collect()
        }
        # a serving session needs only the path: centroids + codebook ride
        # along in the index directory
        l_cents1, l_codebook, l_scale = load_two_level_codebook(spark, out)
        got = {
            (r.query_id, r.rnk): (r.neighbor_id, r.score)
            for r in ivf_topk_two_level(
                queries, None, l_cents1, l_codebook,
                k=5, scale=l_scale, from_index_path=out,
            ).collect()
        }
        assert got == want and len(want) > 0


def test_two_level_index_roundtrip_and_partition_pruning(spark, tmp_path):
    """The persisted layout must (a) hold exactly the assignment's rows,
    (b) carry the probed-cell predicate as a PartitionFilter, and (c) read
    ONLY the probed cells' files — extending the flat-index contract to
    the two-level codebook."""
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_assign_two_level,
    )
    from crdb_changefeed_publisher_spark.operators.similarity import (
        build_two_level_index,
        load_two_level_index,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb, cents1, codebook, scale = _two_level_fixture(spark, sf_dir)
    out = str(tmp_path / "idx2l")
    build_two_level_index(emb, cents1, codebook, out, scale=scale)

    mem = kmeans_assign_two_level(
        emb, cents1, codebook, scale, keep_vec=True
    )
    want = {
        (r.vec_id, r.cell, r.sub, r.sq_dist, tuple(r.embedding))
        for r in mem.collect()
    }
    got = {
        (r.vec_id, r.cell, r.sub, r.sq_dist, tuple(r.embedding))
        for r in load_two_level_index(spark, out).collect()
    }
    assert got == want and len(want) > 0

    cells = sorted({c for (_, c, _, _, _) in want})[:2]
    probe = load_two_level_index(spark, out, cells=cells)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]
    touched = {
        r.f
        for r in probe.select(
            F.element_at(F.split(F.input_file_name(), "/cell="), 2).alias("f")
        ).collect()
    }
    read_cells = {int(f.split("/")[0]) for f in touched}
    assert read_cells == set(cells)
    assert probe.count() == sum(1 for (_, c, _, _, _) in want if c in cells)


def test_trained_flat_served_from_disk_matches_in_memory(spark, tmp_path):
    """r13: the registered embedding_topk_ivf_trained row now serves from
    the persisted flat cell-partitioned layout (build_trained_index) — the
    from-index serve must return EXACTLY the in-memory serve's rows at two
    scale factors (the fixtures the registered SQL twin is verified on, so
    equality here is transitively equality against the DuckDB oracle), and
    the probed scan must prune at the directory level."""
    from pyspark.sql import functions as F

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k_for,
        kmeans_train,
    )
    from crdb_changefeed_publisher_spark.operators.similarity import (
        build_trained_index,
        ivf_topk_trained,
        load_trained_codebook,
        load_trained_index,
    )
    from crdb_changefeed_publisher_spark.plans.llm import (
        KMEANS_CELL_TARGET,
        KMEANS_ITERS,
        KMEANS_SCALE,
    )
    from crdb_changefeed_publisher_spark.tables import load_table

    for i, sf_dir in enumerate(["/root/testdata/sf0.001", "/root/testdata/sf0.01"]):
        emb = load_table(spark, sf_dir, "embeddings")
        k = kmeans_k_for(emb.count(), cell_target=KMEANS_CELL_TARGET)
        cents = kmeans_train(emb, k=k, n_iters=KMEANS_ITERS, scale=KMEANS_SCALE)
        out = str(tmp_path / f"flatidx{i}")
        build_trained_index(emb, cents, out, scale=KMEANS_SCALE)
        queries = emb.filter(F.col("vec_id") % 25 == 0)
        want = {
            (r.query_id, r.rnk): (r.neighbor_id, r.score)
            for r in ivf_topk_trained(
                queries, emb, cents, k=5, scale=KMEANS_SCALE
            ).collect()
        }
        # a serving session needs only the path: centroids + scale ride along
        l_cents, l_scale = load_trained_codebook(spark, out)
        assert l_cents == cents and l_scale == KMEANS_SCALE
        got = {
            (r.query_id, r.rnk): (r.neighbor_id, r.score)
            for r in ivf_topk_trained(
                queries, None, l_cents, k=5, scale=l_scale, from_index_path=out
            ).collect()
        }
        assert got == want and len(want) > 0

    # pruning: a 2-cell load must read only those cells' directories
    all_cells = sorted(
        r.cell for r in load_trained_index(spark, out).select("cell").distinct().collect()
    )
    cells = all_cells[:2]
    probe = load_trained_index(spark, out, cells=cells)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]
    touched = {
        r.f
        for r in probe.select(
            F.element_at(F.split(F.input_file_name(), "/cell="), 2).alias("f")
        ).collect()
    }
    assert {int(f.split("/")[0]) for f in touched} == set(cells)
