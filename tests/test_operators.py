"""Operator-level unit tests: dedup, similarity, text, multimodal plumbing.
Uses small deterministic frames + the sf0.001 fixtures."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators import dedup, multimodal, similarity, text
from crdb_changefeed_publisher_spark.tables import load_table


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_shingle_rows(spark):
    df = docs_df(spark, [(1, "a b c d"), (2, "x y")])
    got = {(r.doc_id, r.shingle) for r in dedup.shingle_rows(df).collect()}
    assert got == {(1, "a b c"), (1, "b c d")}  # doc 2 has <3 words -> none


def test_exact_and_normalized_dedup(spark):
    df = docs_df(spark, [(1, "Hello  World"), (2, "hello world"), (3, "Hello  World"), (4, "other")])
    exact = {(r.keep_id, r.n_copies) for r in dedup.exact_duplicates(df).collect()}
    assert exact == {(1, 2), (2, 1), (4, 1)}
    norm = {(r.keep_id, r.n_copies) for r in dedup.normalized_duplicates(df).collect()}
    assert norm == {(1, 3), (4, 1)}


def test_jaccard_identical_docs_score_1(spark):
    df = docs_df(spark, [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different text here now")])
    pairs = dedup.jaccard_pairs_min_shingle(df, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_pagerank_hand_computed_and_checkpoint_path(spark):
    from pyspark.sql import Row
    from crdb_changefeed_publisher_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src="A", dst="B"), Row(src="A", dst="C"), Row(src="B", dst="C"),
         Row(src="A", dst="B")]  # duplicate edge must not double-count
    )
    one = {r.node: r.rank for r in pagerank(edges, n_iter=1).collect()}
    # A: no inflow; B: A's rank/outdeg(2); C: A/2 + B/1
    assert one == {
        "A": 0.15,
        "B": round(0.15 + 0.85 * 0.5, 6),
        "C": round(0.15 + 0.85 * 1.5, 6),
    }
    plain = {r.node: r.rank for r in pagerank(edges, n_iter=3).collect()}
    ckpt = {
        r.node: r.rank
        for r in pagerank(edges, n_iter=3, checkpoint_every=1).collect()
    }
    assert plain == ckpt
    # sink C accumulates the most rank; source A keeps the floor
    assert plain["C"] > plain["B"] > plain["A"] == 0.15


def test_gram_covariance_matches_numpy(spark):
    import numpy as np

    from pyspark.sql import Row
    from crdb_changefeed_publisher_spark.operators.linalg import gram_covariance

    rng = np.random.default_rng(7)
    X = rng.normal(size=(50, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [Row(embedding=[float(v) for v in row]) for row in X],
        "embedding array<float>",
    ).repartition(5)  # force multi-partition partial combine
    got = {(r.i, r.j): (r.gram, r.cov) for r in gram_covariance(df).collect()}
    Xd = X.astype(np.float64)
    G = Xd.T @ Xd
    mu = Xd.mean(axis=0)
    C = (Xd.T @ Xd) / len(Xd) - np.outer(mu, mu)
    assert len(got) == 16
    for (i, j), (g, c) in got.items():
        assert abs(g - round(G[i, j], 4)) < 1e-9
        assert abs(c - round(C[i, j], 4)) < 1e-9
        # symmetry comes out exactly (same partials feed (i,j) and (j,i))
        assert got[(j, i)] == (g, c)


def test_incremental_dedup_report_flags(spark):
    corpus = docs_df(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated corpus text about spark engines"),
        ],
    )
    shard = docs_df(
        spark,
        [
            # byte-identical to corpus doc 1 -> 'exact'
            (10, "the quick brown fox jumps over the lazy dog today"),
            # one word changed vs corpus doc 1 -> shares 7/8 shingles -> some
            # minhash band collides -> 'near' (and not exact)
            (15, "the quick brown fox jumps over the lazy cat today"),
            # novel text -> 'new'
            (20, "zeta omega entirely fresh document with novel words"),
            # within-shard exact dup of 20 -> folded, keep_id=20 n_copies=2
            (25, "zeta omega entirely fresh document with novel words"),
        ],
    )
    got = {
        r.keep_id: (r.n_copies, r.vs_corpus)
        for r in dedup.incremental_dedup_report(corpus, shard).collect()
    }
    assert got[10] == (1, "exact")
    assert got[15] == (1, "near")
    assert got[20] == (2, "new")
    assert set(got) == {10, 15, 20}


def test_incremental_dedup_sequential_consistency(spark, sf_dir):
    """The invariant that justifies incremental admission: admitting shard
    A then shard B against a growing corpus keeps exactly the same distinct
    CONTENT as one-shot exact dedup over corpus+A+B (the 'exact' tag tier;
    'near' is a screening signal on top, not a keep/drop decision here)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    s1 = docs.filter(F.col("doc_id") % 3 == 1)
    s2 = docs.filter(F.col("doc_id") % 3 == 2)

    def admitted(corpus_df, shard_df):
        rep = dedup.incremental_dedup_report(corpus_df, shard_df)
        keep_ids = [r.keep_id for r in rep.filter(F.col("vs_corpus") != "exact").collect()]
        return shard_df.filter(F.col("doc_id").isin(keep_ids))

    a1 = admitted(corpus, s1)
    corpus2 = corpus.unionByName(a1)
    a2 = admitted(corpus2, s2)
    final = corpus2.unionByName(a2)

    got = {r.t for r in final.select(F.col("text").alias("t")).distinct().collect()}
    want = {r.t for r in docs.select(F.col("text").alias("t")).distinct().collect()}
    assert got == want
    # and no content is stored twice beyond what the corpus itself held
    n_dup_in_corpus = corpus.count() - corpus.select("text").distinct().count()
    assert final.count() - len(got) == n_dup_in_corpus


def test_minhash_identical_docs(spark):
    df = docs_df(spark, [(1, "the quick brown fox jumps over dogs"), (2, "the quick brown fox jumps over dogs"), (3, "unrelated words entirely disjoint from both")])
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].est_jaccard == 1.0


def test_simhash_identical_and_disjoint(spark):
    df = docs_df(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww vv uu tt ss")])
    sig = {r.doc_id: r.sig for r in dedup.simhash_signatures(df).collect()}
    assert sig[1] == sig[2]
    pairs = {(p.doc_a, p.doc_b): p.hamming for p in dedup.simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}
    # a precomputed signatures frame must be reused verbatim, not rebuilt
    # (r10 advice: guard callers pay the signature pass twice otherwise)
    pre = dedup.simhash_signatures(df).localCheckpoint(eager=True)
    reused = {
        (p.doc_a, p.doc_b): p.hamming
        for p in dedup.simhash_pairs(df, max_hamming=0, signatures=pre).collect()
    }
    assert reused == pairs


def test_brute_force_topk_self_similarity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0)
    top = similarity.brute_force_topk(queries, emb, k=3).collect()
    assert len(top) == 3
    assert [r.rnk for r in top] == [1, 2, 3]
    assert all(r.neighbor_id != 0 for r in top)
    assert all(-1.0 <= r.score <= 1.0 for r in top)


def test_srp_lsh_topk_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    a = similarity.srp_lsh_topk(queries, emb, k=3).collect()
    b = similarity.srp_lsh_topk(queries, emb, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0
    assert all(r.rnk <= 3 and -1.0 <= r.score <= 1.0 for r in a)


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog is here"),
            Row(t="der hund und die katze ist da"),
            Row(t="xyzzy plugh"),
        ]
    )
    got = [r.p for r in df.select(text.lang_id(F.col("t")).alias("p")).collect()]
    assert got == ["en", "de", "und"]


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([Row(t="abc")])
    fp = df.select(text.fingerprint(F.col("t")).alias("fp")).collect()[0].fp
    # fold: ((0*31+97)*31+98)*31+99 mod 1e9+7
    assert fp == ((97 * 31 + 98) * 31 + 99) % 1_000_000_007


def test_multimodal_decode_boundaries():
    # uncompressed formats decode for real (pure-numpy parsers, see
    # tests/test_multimodal_codecs.py); a compressed payload is rejected
    # by the PNM parser, and the codec-library boundary is explicit
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(NotImplementedError):
        multimodal.decode_compressed(b"\x89PNG\r\n\x1a\n", "image/png")


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, 9)
    plan = multimodal.frame_sample_plan(media, every_ms=100)
    rows = plan.groupBy("media_id").count().collect()
    # only kind == video rows appear, with ceil(duration/100) frames each
    assert all(r["count"] >= 1 for r in rows)


def test_benchmark_contamination_toy(spark):
    """doc 0 (doc_id % 97 == 0) IS the benchmark; doc 1 copies its first 8
    words (1 contaminated gram of 3); doc 2 shares nothing; doc 3 is too
    short for any 8-gram and is excluded."""
    docs = spark.createDataFrame(
        [
            (0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2"),
            (2, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.benchmark_contamination(docs).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0].n_grams, got[0].n_contaminated, got[0].clean) == (3, 3, False)
    assert (got[1].n_grams, got[1].n_contaminated, got[1].clean) == (3, 1, False)
    assert got[1].contamination == 0.3333
    assert (got[2].n_contaminated, got[2].clean) == (0, True)


def test_snapshot_reconcile_handcrafted(spark):
    """operators/reconcile.snapshot_reconcile semantics on a hand-built
    drift: matching keys emit NOTHING; lost, alien, and per-column
    corrupted keys come back with the right status and diff_cols; NULL
    vs value counts as a difference (null-tagged canonical form)."""
    from crdb_changefeed_publisher_spark.operators.reconcile import snapshot_reconcile

    snap = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "B", 20.0),
            (3, "C", 30.0),   # lost in replica
            (4, "D", 40.0),   # both columns corrupted
            (5, None, 50.0),  # NULL in snapshot, value in replica
        ],
        "k long, status string, price double",
    )
    repl = spark.createDataFrame(
        [
            (1, "A", 10.0),        # match
            (2, "B", 21.0),        # price drift
            (4, "X", 41.0),        # both drift
            (5, "E", 50.0),        # NULL vs E
            (6, "F", 60.0),        # alien
        ],
        "k long, status string, price double",
    )
    out = {r.key: r for r in snapshot_reconcile(snap, repl, "k", ["status", "price"]).collect()}
    assert set(out) == {2, 3, 4, 5, 6}
    assert out[2].status == "mismatch" and out[2].diff_cols == "price"
    assert out[3].status == "missing_in_replica"
    assert out[4].status == "mismatch" and out[4].diff_cols == "price,status"
    assert out[5].status == "mismatch" and out[5].diff_cols == "status"
    assert out[6].status == "missing_in_snapshot"


def test_snapshot_reconcile_python_stage_is_drift_sized(spark):
    """The cogrouped detail pass must be fed by semi-joins on the suspect
    keys — the physical plan carries FlatMapCoGroupsInPandas downstream of
    the semi-joined sides, and a fully-matching reconcile returns ZERO
    rows (the Python stage sees no data at all)."""
    from crdb_changefeed_publisher_spark.operators.reconcile import snapshot_reconcile

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("status"),
        (F.col("id") * 1.5).alias("price"),
    )
    out = snapshot_reconcile(df, df, "k", ["status", "price"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert out.count() == 0


def test_dedup_candidate_quality_against_exact_jaccard(spark, sf_dir):
    """Pin the candidate quality of the MinHash generators against EXACT
    3-gram Jaccard ground truth (tools/dedup_quality.py's measure, scoped
    to the two production-relevant detectors): the native LSH must stay
    on the efficient frontier (precision 1.0 here) and the portable twin
    must not miss true pairs. Deterministic per fixture."""
    from tools.dedup_quality import exact_jaccard_pairs, pair_set

    from crdb_changefeed_publisher_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    truth = pair_set(exact_jaccard_pairs(docs, 0.2))
    assert truth  # fixture must contain true near-dups

    native = pair_set(dedup.minhash_lsh_pairs(docs, threshold=0.2))
    portable = pair_set(dedup.minhash_portable_pairs(docs, threshold=0.2))

    assert len(native & truth) / len(truth) >= 0.9       # native recall
    assert len(native & truth) / max(len(native), 1) >= 0.9  # native precision
    assert len(portable & truth) / len(truth) >= 0.95    # portable recall


def test_portable_minhash_16hash_4band_family(spark):
    """The 16-hash/4-band extension (realism rows): (a) the first 8 mins
    coincide with the default family's (PORTABLE_COEFFS16[:8] ==
    PORTABLE_COEFFS, so the 8-hash signature embeds in the 16-hash one),
    (b) identical docs estimate 1.0, (c) degrees are consistent with the
    pair stream on known clusters."""
    assert dedup.PORTABLE_COEFFS16[:8] == dedup.PORTABLE_COEFFS
    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (4, "one two three four five six seven eight nine"),
        ],
    )
    sig8 = dedup.portable_banded_signatures(df).collect()
    sig16 = dedup.portable_banded_signatures(
        df, coeffs=dedup.PORTABLE_COEFFS16, bands=4
    ).collect()
    by8 = {r.doc_id: r for r in sig8}
    for r in sig16:
        for i in range(8):
            assert getattr(r, f"m{i}") == getattr(by8[r.doc_id], f"m{i}")
        assert {f.lower() for f in r.asDict()} >= {"b0", "b1", "b2", "b3"}
    pairs = dedup.minhash_portable_pairs(
        df, threshold=0.2, coeffs=dedup.PORTABLE_COEFFS16, bands=4
    )
    got = {(p.doc_a, p.doc_b): p.est_jaccard for p in pairs.collect()}
    # deterministic given the frozen family: the true Jaccard of 1-vs-3 is
    # 6/7 and 15/16 of the min-hashes agree
    assert got == {(1, 2): 1.0, (1, 3): 0.9375, (2, 3): 0.9375}
    deg = {
        r.doc_id: (r.n_near_dups, r.best_est)
        for r in dedup.minhash_portable_degrees(
            df, threshold=0.2, coeffs=dedup.PORTABLE_COEFFS16, bands=4
        ).collect()
    }
    assert deg == {1: (2, 1.0), 2: (2, 1.0), 3: (2, 0.9375)}


def test_cdc_apply_then_reconcile_end_to_end(spark):
    """The full CDC apply-and-audit loop the reconcile operator exists
    for: a change stream materializes into a replica via latest_changes
    (the upsert apply), the audit against the source of truth comes back
    CLEAN; then the replica suffers bit-rot (a lost key, a stale value)
    and the audit reports exactly that drift and nothing else."""
    from crdb_changefeed_publisher_spark.operators.changefeed import latest_changes
    from crdb_changefeed_publisher_spark.operators.reconcile import snapshot_reconcile

    # change stream: key 1..5 inserted at v1, keys 2,4 updated at v2
    changes = spark.createDataFrame(
        [("t", str(k), f"v1-{k}", 1) for k in range(1, 6)]
        + [("t", "2", "v2-2", 2), ("t", "4", "v2-4", 2)],
        "table string, key string, value string, version long",
    )
    replica = latest_changes(changes).select(
        F.col("key").cast("long").alias("k"), F.col("value").alias("payload")
    )
    # source of truth: what the table looks like after those changes
    truth = spark.createDataFrame(
        [(1, "v1-1"), (2, "v2-2"), (3, "v1-3"), (4, "v2-4"), (5, "v1-5")],
        "k long, payload string",
    )
    clean = snapshot_reconcile(truth, replica, "k", ["payload"]).collect()
    assert clean == []  # applied replica matches the source exactly

    # bit-rot: key 3 lost, key 5 stale
    rotted = replica.filter(F.col("k") != 3).withColumn(
        "payload",
        F.when(F.col("k") == 5, F.lit("v0-5-stale")).otherwise(F.col("payload")),
    )
    drift = {r.key: r for r in snapshot_reconcile(truth, rotted, "k", ["payload"]).collect()}
    assert set(drift) == {3, 5}
    assert drift[3].status == "missing_in_replica"
    assert drift[5].status == "mismatch" and drift[5].diff_cols == "payload"


# --- Bloom-filter semi-join reduction (operators/bloom.py) -------------------


def test_bloom_prefilter_join_equals_exact_semi_join(spark, sf_dir):
    """The whole contract: no false negatives (every true match passes the
    filter) and the exact join removes false positives — so the composition
    is row-identical to the plain semi join."""
    from crdb_changefeed_publisher_spark.operators import bloom

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    got = bloom.bloom_prefilter_join(li, urgent, "l_orderkey", "o_orderkey")
    want = li.join(
        urgent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "left_semi",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bloom_filter_actually_filters_and_counts_fp(spark, sf_dir):
    """The stats view: every true match passes (no false negatives), the
    pass set is consistent (pass = match + false positives), and with a
    deliberately UNDERSIZED filter the fp count is nonzero (the filter is
    a real Bloom filter, not a hash set)."""
    from crdb_changefeed_publisher_spark.operators import bloom

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    rows = bloom.bloom_semijoin_stats(
        li, urgent, "l_orderkey", "o_orderkey", "l_returnflag"
    ).collect()
    assert rows
    for r in rows:
        assert r.n_bloom_pass == r.n_true_match + r.n_false_pos  # consistency
        assert r.n_bloom_pass >= r.n_true_match  # no false negatives
        assert r.n_bloom_pass <= r.n_rows
    # undersized filter (m = 2^10 bits for thousands of keys): saturation
    # must show up as false positives, never as false negatives
    tiny = bloom.bloom_semijoin_stats(
        li, urgent, "l_orderkey", "o_orderkey", "l_returnflag", m_bits=1 << 10
    ).collect()
    assert sum(r.n_false_pos for r in tiny) > 0
    assert all(r.n_bloom_pass >= r.n_true_match for r in tiny)
    # and the self-sized filter admits strictly less than the tiny one
    assert sum(r.n_bloom_pass for r in rows) < sum(r.n_bloom_pass for r in tiny)


def test_bloom_m_bits_rule_and_dial_validation():
    from crdb_changefeed_publisher_spark.operators import bloom

    assert bloom.bloom_m_bits_for(3_000) == 1 << 16      # 48k bits -> 64k
    assert bloom.bloom_m_bits_for(300) == 1 << 13        # 4.8k -> 8k
    assert bloom.bloom_m_bits_for(1) == 1 << 10          # floor
    assert bloom.bloom_m_bits_for(10**9) == 1 << 26      # ceiling
    with pytest.raises(ValueError):
        bloom.bloom_build(None, "x", m_bits=3000)        # not a power of two
    with pytest.raises(ValueError):
        bloom.bloom_build(None, "x", m_bits=1 << 27)     # literal too large
    with pytest.raises(ValueError):
        bloom.bloom_build(None, "x", m_bits=1 << 12, k=0)


def test_schema_evolution_report_semantics(spark):
    """Handcrafted change stream pinning each status: stable (full span),
    added (appears late), removed (vanishes early), transient (both), and
    a null-VALUED column still counts as present (the key exists)."""
    from crdb_changefeed_publisher_spark.operators.changefeed import (
        schema_evolution_report,
    )

    rows = [
        ("t", 1, '{"after": {"id": 1, "old": 1}}'),
        ("t", 2, '{"after": {"id": 2, "old": null, "mid": 1}}'),
        ("t", 3, '{"after": {"id": 3, "mid": 2}}'),
        ("t", 4, '{"after": {"id": 4, "new": 7}}'),
        ("u", 1, '{"after": {"id": 1}}'),
    ]
    changes = spark.createDataFrame(rows, "table string, version long, value string")
    got = {
        (r.table, r.column): (r.n_present, r.first_version, r.last_version, r.status)
        for r in schema_evolution_report(changes).collect()
    }
    assert got[("t", "id")] == (4, 1, 4, "stable")
    assert got[("t", "old")] == (2, 1, 2, "removed")   # null value still present
    assert got[("t", "mid")] == (2, 2, 3, "transient")
    assert got[("t", "new")] == (1, 4, 4, "added")
    assert got[("u", "id")] == (1, 1, 1, "stable")     # spans its own table only


def test_incremental_group_totals_equals_recompute(spark):
    """Handcrafted maintenance case exercising every path — last-writer-
    wins versions, an update that MIGRATES its key to another group, a
    delete, an insert into a brand-new group, and a group whose count
    reaches zero (must vanish) — asserted equal to the full recompute
    over the applied table."""
    from crdb_changefeed_publisher_spark.operators.matview import (
        incremental_group_totals,
        latest_keyed_changes,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "key long, grp string, v double",
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "a", 99.0, False),   # loses to version 2
            (1, 2, "b", 15.0, False),   # migrate a -> b, new value
            (3, 1, None, None, True),   # delete
            (4, 1, None, None, True),   # delete: group c dies
            (5, 1, "d", 5.0, False),    # insert into a new group
        ],
        "key long, version long, grp string, v double, deleted boolean",
    )
    got = {
        r.grp: (r.n_rows, r.total)
        for r in incremental_group_totals(base, changes, "key", "grp", "v").collect()
    }
    # recompute: apply the latest changes by hand
    # applied = {2:(a,20), 1:(b,15), 5:(d,5)}
    assert got == {"a": (1, 20.0), "b": (1, 15.0), "d": (1, 5.0)}
    assert "c" not in got  # dead group dropped

    # last-writer-wins helper in isolation
    latest = {r.key: (r.version, r.grp) for r in latest_keyed_changes(changes, "key").collect()}
    assert latest[1] == (2, "b")


def test_bloom_join_probe_equals_literal_probe(spark, sf_dir):
    """The two probe vehicles (codegen literals vs broadcast join against
    the sparse words table) must agree bit-for-bit at the SAME m — the
    join path is just the transport for filters too big to be plan
    constants."""
    from crdb_changefeed_publisher_spark.operators import bloom

    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    big = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    m, k = 1 << 14, 5
    words = bloom.bloom_build(urgent, "k", m, k)
    lit = {
        r.k: int(r.p)
        for r in big.select(
            "k", bloom.bloom_might_contain(F.col("k"), words, k).cast("int").alias("p")
        ).collect()
    }
    words_df = bloom.bloom_build_df(urgent, "k", m, k)
    jn = {
        r.k: int(r._pass)
        for r in bloom.bloom_pass_flags_join(big, "k", words_df, m, k).collect()
    }
    assert lit == jn and sum(lit.values()) > 0


# ---------------------------------------------------------------------------
# fuzzy record linkage (operators/linkage.py)


def test_fuzzy_pairs_known_distances(spark):
    """Hand-built corpus with known edit distances: the blocked join finds
    exactly the pairs within the threshold, with exact distances."""
    from crdb_changefeed_publisher_spark.operators import linkage

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            # 1 substitution past the 24-char blocking prefix (dog -> hog)
            Row(doc_id=2, text="the quick brown fox jumps over the lazy hog"),
            # 5 edits: "cats" tail swap
            Row(doc_id=3, text="the quick brown fox jumps over the lazy cats"),
            # same words, different prefix -> different block, never compared
            Row(doc_id=4, text="lazy dog the quick brown fox jumps over the"),
            # unrelated text
            Row(doc_id=5, text="completely different content about spark plans"),
        ]
    )
    pairs = {
        (r.doc_a, r.doc_b): r.dist
        for r in linkage.fuzzy_pairs(docs, max_dist=16, prefix_len=24).collect()
    }
    assert pairs[(1, 2)] == 1
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert all(4 not in p and 5 not in p for p in pairs)


def test_fuzzy_length_band_is_exact_pruning(spark, sf_dir):
    """|len(a)-len(b)| <= k is necessary for edit distance <= k, so the
    pre-band drops nothing: removing it yields the same qualifying pairs."""
    from crdb_changefeed_publisher_spark.operators import linkage

    docs = load_table(spark, sf_dir, "documents")
    with_band = {
        (r.doc_a, r.doc_b, r.dist)
        for r in linkage.fuzzy_pairs(docs, max_dist=12).collect()
    }
    # rebuild without the band: block join + threshold DP only
    t = docs.select(
        F.col("doc_id").alias("id"),
        linkage.normalized_link_key(F.col("text")).alias("t"),
    ).withColumn("p", F.substring("t", 1, 24))
    a = t.select(F.col("id").alias("doc_a"), F.col("t").alias("ta"), "p")
    b = t.select(F.col("id").alias("doc_b"), F.col("t").alias("tb"), "p")
    no_band = {
        (r.doc_a, r.doc_b, r.dist)
        for r in a.join(b, "p")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.levenshtein("ta", "tb", 12))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 12))
        .select("doc_a", "doc_b", "dist")
        .collect()
    }
    assert with_band == no_band and len(with_band) > 0


def test_passjoin_finds_the_prefix_blocking_escape(spark):
    """The documented adversarial case (r8 verdict #5): a single edit
    inside the first 24 chars makes the pair invisible to prefix
    blocking, but PassJoin's segment pigeonhole cannot miss it. Also
    asserts the MISS on the prefix path — proving the planted pair
    really is the escape, not just another hit."""
    from crdb_changefeed_publisher_spark.operators import linkage

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    adversarial = "the quack brown fox jumps over the lazy dog again and again ok"
    docs = spark.createDataFrame(
        [(1, base), (2, adversarial), (3, "something else entirely here")],
        "doc_id long, text string",
    )
    prefix_hits = {
        (r.doc_a, r.doc_b)
        for r in linkage.fuzzy_pairs(docs, max_dist=4, prefix_len=24).collect()
    }
    assert (1, 2) not in prefix_hits  # the escape, provably missed
    exact_hits = {
        (r.doc_a, r.doc_b): r.dist
        for r in linkage.fuzzy_pairs_passjoin(docs, max_dist=4).collect()
    }
    assert exact_hits.get((1, 2)) == 1


def test_passjoin_equals_bruteforce_on_random_mutations(spark):
    """Exact-recall property: on a seeded corpus of random strings (with
    planted 1-5-edit mutants, lengths 3..60 spanning the short-string
    stratum), PassJoin's pair set equals a full O(n^2) Python DP — no
    pair missed, none invented, every distance exact."""
    import random
    import re

    from crdb_changefeed_publisher_spark.operators import linkage

    rng = random.Random(7)

    def mutate(s, n):
        s = list(s)
        for _ in range(n):
            op = rng.choice("ids")
            i = rng.randrange(len(s))
            if op == "i":
                s.insert(i, rng.choice("abcdef "))
            elif op == "d":
                del s[i]
            else:
                s[i] = rng.choice("abcdef ")
        return "".join(s)

    docs, did = [], 0
    for _ in range(40):
        b = "".join(rng.choice("abcdef ") for _ in range(rng.randrange(3, 60)))
        docs.append((did, b))
        did += 1
        if rng.random() < 0.6:
            docs.append((did, mutate(b, rng.randrange(1, 6))))
            did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in linkage.fuzzy_pairs_passjoin(df, max_dist=4).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    texts = {i: re.sub("[^a-zA-Z ]", "", t).lower() for i, t in docs}
    ids = sorted(texts)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = texts[ids[x]], texts[ids[y]]
            if abs(len(a) - len(b)) <= 4:
                d = lev(a, b)
                if d <= 4:
                    want[(ids[x], ids[y])] = d
    assert got == want and len(want) > 0


def test_linkage_degrees_bounded_and_consistent(spark, sf_dir):
    """Degrees: output <= n_docs, n_links counts incident pairs, nearest is
    the smallest-id partner at the minimum distance."""
    from crdb_changefeed_publisher_spark.operators import linkage

    docs = load_table(spark, sf_dir, "documents")
    pairs = linkage.fuzzy_pairs(docs, max_dist=16).persist()
    deg = linkage.linkage_degrees(pairs).collect()
    assert 0 < len(deg) <= docs.count()
    rows = pairs.collect()
    for d in deg[:20]:
        incident = [r for r in rows if d.doc_id in (r.doc_a, r.doc_b)]
        assert d.n_links == len(incident)
        md = min(r.dist for r in incident)
        assert d.min_dist == md
        partners = [
            (r.doc_b if r.doc_a == d.doc_id else r.doc_a)
            for r in incident
            if r.dist == md
        ]
        assert d.nearest == min(partners)
    pairs.unpersist()


def test_bloom_block_states_matches_python_fold(spark, sf_dir):
    """operators/bloom.bloom_block_states: the one-pass JVM builder's
    per-block words equal a Python insertion fold with the same hash /
    block / position arithmetic, signed int64 packing included."""
    import hashlib

    from crdb_changefeed_publisher_spark.operators import bloom

    n_blocks, block_words, k = 64, 8, 5
    docs = load_table(spark, sf_dir, "documents").select("text")
    got = {
        int(r.block): [int(w) for w in r.words]
        for r in bloom.bloom_block_states(
            docs, "text", n_blocks=n_blocks, block_words=block_words, k=k
        ).collect()
    }

    def h52(text: str) -> int:
        return int(hashlib.sha256(f"bloom-v1:{text}".encode()).hexdigest()[:13], 16)

    m_block = block_words * 64
    want: dict[int, list[int]] = {}
    for (text,) in docs.collect():
        h = h52(text)
        b = h % n_blocks
        words = want.setdefault(b, [0] * block_words)
        for a, c in bloom.BLOOM_COEFFS[:k]:
            p = ((h * a + c) % bloom.BLOOM_MOD) % m_block
            words[p >> 6] |= 1 << (p & 63)
    want_signed = {
        b: [w - (1 << 64) if w >= 1 << 63 else w for w in ws]
        for b, ws in want.items()
    }
    assert got == want_signed and len(got) > 0


def test_block_saturation_diagnostic(spark, sf_dir):
    from crdb_changefeed_publisher_spark.operators import linkage

    docs = load_table(spark, sf_dir, "documents")
    r = linkage.block_saturation(docs).collect()[0]
    assert r.n_docs == docs.count()
    assert r.n_blocks <= r.n_docs
    assert 1 <= r.p99_block <= r.max_block
    # quadratic candidate work bound implied by the profile holds vs the
    # actual pair-join input size
    pops = [
        p.pop
        for p in docs.select(
            F.substring(
                linkage.normalized_link_key(F.col("text")), 1, 24
            ).alias("p")
        )
        .groupBy("p")
        .count()
        .withColumnRenamed("count", "pop")
        .collect()
    ]
    assert max(pops) == r.max_block


def test_scd2_history_handcrafted_edges(spark):
    """SCD2 semantics on a hand-built stream covering every edge: collapse
    of no-change upserts, attr change, delete closing an interval, reopen
    AFTER a delete with the SAME attr (must open a new interval, not
    resurrect the old one), consecutive deletes, and a key whose first
    event is a tombstone."""
    from crdb_changefeed_publisher_spark.operators.scd import scd2_history

    rows = [
        # key 1: A(1) A(2 collapse) B(3) del(4) B(5 reopen same attr) -> 3 rows
        (1, 1, "A", False),
        (1, 2, "A", False),
        (1, 3, "B", False),
        (1, 4, None, True),
        (1, 5, "B", False),
        # key 2: del(1 first-ever), del(2 consecutive), A(3) -> 1 row
        (2, 1, None, True),
        (2, 2, None, True),
        (2, 3, "A", False),
        # key 3: A(1) then deleted(2) and never reopened -> 1 closed row
        (3, 1, "A", False),
        (3, 2, None, True),
    ]
    df = spark.createDataFrame(rows, "k long, v long, attr string, del boolean")
    got = {
        (r.k, r.attr, r.valid_from): (r.valid_to, r.is_current)
        for r in scd2_history(df, "k", "v", ["attr"], deleted_col="del").collect()
    }
    assert got == {
        (1, "A", 1): (3, False),
        (1, "B", 3): (4, False),
        (1, "B", 5): (None, True),
        (2, "A", 3): (None, True),
        (3, "A", 1): (2, False),
    }


# --- exact-integer k-means (operators/linalg.py::kmeans_quantized) ----------


def _kmeans_reference(vecs, ids, k, n_iters, scale):
    """Driver-side Python fold of the exact-arithmetic Lloyd spec: hash-order
    seeds, int64 argmin with first-minimum tiebreak, exact floor-mean
    update with empty-cluster carry-forward. Every step is exact integer
    arithmetic, so agreement with the distributed operator is equality,
    not approximation."""
    import hashlib

    import numpy as np

    Q = np.floor(np.stack(vecs).astype(np.float64) * scale).astype(np.int64)
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.sha256(f"kmeans:{ids[i]}".encode()).hexdigest(), ids[i]),
    )
    C = Q[order[:k]].copy()
    for _ in range(n_iters):
        d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        best = d2.argmin(axis=1)
        for c in range(k):
            sel = Q[best == c]
            if len(sel):
                C[c] = np.array([int(s) // len(sel) for s in sel.sum(axis=0)])
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    best = d2.argmin(axis=1)
    return {int(i): (int(b), int(d2[r, b])) for r, (i, b) in enumerate(zip(ids, best))}


def test_kmeans_quantized_matches_python_fold(spark):
    """kmeans_quantized on a handcrafted 2-d frame (negative components so
    floor means differ from truncation; k > populated clusters so the
    empty-cluster carry-forward path runs) equals the Python fold exactly."""
    from crdb_changefeed_publisher_spark.operators.linalg import kmeans_quantized

    vecs = [
        [-1.5, -1.3], [-1.4, -1.6], [-1.55, -1.45],  # a negative-mean blob
        [2.0, 2.1], [2.2, 1.9],                      # a positive blob
        [0.1, -0.05],                                # a loner
    ]
    ids = list(range(10, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    import numpy as np

    got = {
        int(r.vec_id): (int(r.cluster), int(r.sq_dist))
        for r in kmeans_quantized(df, k=5, n_iters=2, scale=8).collect()
    }
    want = _kmeans_reference(
        [[float(np.float32(x)) for x in v] for v in vecs], ids, 5, 2, 8
    )
    assert got == want


def test_kmeans_assign_tiebreak_and_exactness(spark):
    """Equidistant point assigns to the LOWER cluster id, and sq_dist is
    the exact integer squared L2 in the quantized domain."""
    from crdb_changefeed_publisher_spark.operators.linalg import kmeans_assign

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = [[-4, -4], [4, 4]]  # quantized at scale=4: (0,0) is equidistant
    got = {
        int(r.vec_id): (int(r.cluster), int(r.sq_dist))
        for r in kmeans_assign(df, cents, scale=4).collect()
    }
    assert got == {1: (0, 32), 2: (1, 0)}


def _small_embeddings(spark, n, d=3, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [(100 + i, [float(x) for x in rng.normal(size=d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_seeds_are_prefixes_of_the_largest_seed_set(spark):
    """The fused session trainer draws ONE seed list at max(k, k1) and
    slices it per dial; that is only sound if seeds(k) == seeds(kmax)[:k]."""
    from crdb_changefeed_publisher_spark.operators.linalg import kmeans_seeds

    emb = _small_embeddings(spark, 40)
    kmax = kmeans_seeds(emb, 16, scale=64)
    assert len(kmax) == 16
    for k in (1, 3, 8):
        assert kmeans_seeds(emb, k, scale=64) == kmax[:k]


def test_kmeans_train_multi_matches_separate_trainers(spark):
    """Lockstep training of several seed sets over one scan is
    bit-identical to training each set alone, and identical seed sets
    fan one result back to every position."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_seeds,
        kmeans_train,
        kmeans_train_multi,
    )

    emb = _small_embeddings(spark, 40)
    seeds = kmeans_seeds(emb, 8, scale=64)
    sets = [seeds[:3], seeds[:8], seeds[:3]]
    fused = kmeans_train_multi(emb, sets, n_iters=3, scale=64)
    alone = [kmeans_train(emb, k=len(s), n_iters=3, scale=64, seeds=s) for s in sets]
    assert fused == alone
    assert fused[0] == fused[2]
    assert kmeans_train(emb, k=8, n_iters=3, scale=64) == alone[1]


def test_kmeans_two_level_corpus_smaller_than_min_dial(spark):
    """n < the smallest level-1 dial (8): kmeans_seeds returns n rows, so
    the fused pass hands in n level-1 cells. The trainer must accept them
    and build the same codebook as when it trains level 1 itself."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        KMEANS_K_CHOICES,
        kmeans_k1_for,
        kmeans_seeds,
        kmeans_train_multi,
        kmeans_train_two_level,
    )

    n = 5
    assert n < KMEANS_K_CHOICES[0] == kmeans_k1_for(n)
    emb = _small_embeddings(spark, n)
    seeds = kmeans_seeds(emb, kmeans_k1_for(n), scale=64)
    assert len(seeds) == n
    (lvl1,) = kmeans_train_multi(emb, [seeds], n_iters=3, scale=64)
    fused_c1, fused_book = kmeans_train_two_level(emb, n=n, scale=64, cents1=lvl1)
    own_c1, own_book = kmeans_train_two_level(emb, n=n, scale=64)
    try:
        assert fused_c1 == own_c1 == lvl1
        rows = lambda book: sorted(  # noqa: E731
            (r.cell, r.sub, tuple(r.c), r.n_members) for r in book.collect()
        )
        assert rows(fused_book) == rows(own_book)
        assert sum(r[3] for r in rows(own_book)) == n
    finally:
        fused_book.unpersist()
        own_book.unpersist()


# --- alternating-star connected components ----------------------------------


def test_altstar_long_chain_and_singletons(spark):
    """A 200-link chain resolves in O(log n) alternating-star rounds
    (min-label propagation would need ~200 shuffle rounds — the scale
    motivation); singletons label themselves."""
    from crdb_changefeed_publisher_spark.operators.dedup import (
        connected_components_altstar,
    )

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(n + 3)], "doc_id long"  # +3 isolated nodes
    )
    got = {
        int(r.doc_id): int(r.cluster_id)
        for r in connected_components_altstar(pairs, nodes, max_iter=12).collect()
    }
    want = {i: 0 for i in range(n)}
    want.update({n: n, n + 1: n + 1, n + 2: n + 2})
    assert got == want


def test_altstar_agrees_with_union_find_path(spark, sf_dir):
    """connected_components_altstar and connected_components are
    interchangeable: identical labels on the embedding-cosine near-dup
    graph of the real fixture."""
    from crdb_changefeed_publisher_spark.operators.dedup import (
        connected_components,
        connected_components_altstar,
        embedding_cosine_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(emb, threshold=0.3)
    nodes = emb.select("vec_id")
    a = {
        (int(r.doc_id), int(r.cluster_id))
        for r in connected_components_altstar(
            pairs, nodes, id_col="vec_id", a_col="vec_a", b_col="vec_b"
        ).collect()
    }
    b = {
        (int(r.doc_id), int(r.cluster_id))
        for r in connected_components(
            pairs, nodes, id_col="vec_id", a_col="vec_a", b_col="vec_b"
        ).collect()
    }
    assert a == b


def test_hashed_ngram_classifier_distills_teacher(spark, sf_dir):
    """The frozen hashed-trigram student reproduces the 5-signal Gopher
    teacher's verdicts on >= 95% of documents — including on fixture
    tiers it was never trained on (trained at sf0.01; measured 97.6% at
    sf0.001, 98.4% at sf0.01). The margin itself is exact int64, so this
    agreement is a MODEL property, not a numeric tolerance."""
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    docs = load_table(spark, sf_dir, "documents")
    student = {
        r.doc_id: r.repetitive_pred
        for r in text.hashed_ngram_classifier(
            docs, tw.WEIGHTS_INT, tw.W_DUP_INT, tw.BIAS_INT,
            tw.N_BUCKETS, tw.SCALE,
        ).collect()
    }
    teacher = {
        r.doc_id: r.repetitive for r in text.repetition_signals(docs).collect()
    }
    common = set(student) & set(teacher)
    assert len(common) >= 400
    agree = sum(student[d] == teacher[d] for d in common) / len(common)
    assert agree >= 0.95


def test_ivf_trained_recall_floor_vs_bruteforce(spark, sf_dir):
    """The in-engine-trained IVF index keeps recall@5 >= 0.6 against exact
    brute force with BOTH dials self-sized (k via kmeans_k_for, n_probe
    via n_probe_for ~ sqrt(k); measured 0.74 at sf0.01, 0.68 at sf0.1,
    0.72 at sf1 — see test_ivf_trained_recall_floor_sf1) — the accuracy
    dial behind the value-exact approximate answer."""
    from crdb_changefeed_publisher_spark.plans.llm import (
        KMEANS_SCALE,
        _kmeans_cents,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    ivf = similarity.ivf_topk_trained(
        q, emb, _kmeans_cents(spark, sf_dir), k=5, scale=KMEANS_SCALE
    )
    bf = similarity.brute_force_topk(q, emb, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    assert len(truth) > 0
    assert len(got & truth) / len(truth) >= 0.6


SF1_DIR = "/root/repo/.scratch/testdata/sf1"


@pytest.mark.skipif(
    not os.path.isdir(SF1_DIR), reason="sf1 stress tier not generated"
)
def test_ivf_trained_recall_floor_sf1(spark):
    """The r8 `weak`, pinned: at sf1 (20k vectors, k self-sizes to 128)
    the FIXED n_probe=3 dial measured recall@5 = 0.21 — the self-sized
    ~sqrt(k) probe dial (n_probe_for(128) = 12, 9.4% probed) must hold
    materially above that. Floor 0.45 (measured 0.484 on this query
    subset; training and scoring are exact integer arithmetic on a
    frozen fixture, so the measurement is deterministic). The isotropic
    fixture's recall is fraction-limited (docs/SCALE.md) — the level-
    recall property shows on the clustered fixture below."""
    from crdb_changefeed_publisher_spark.plans.llm import (
        KMEANS_SCALE,
        _kmeans_cents,
    )

    emb = load_table(spark, SF1_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") % 125 == 0)  # 160 queries: keeps brute force cheap
    ivf = similarity.ivf_topk_trained(
        q, emb, _kmeans_cents(spark, SF1_DIR), k=5, scale=KMEANS_SCALE
    )
    bf = similarity.brute_force_topk(q, emb, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    assert len(truth) > 0
    assert len(got & truth) / len(truth) >= 0.45


def test_ivf_trained_level_recall_on_clustered_corpus(spark):
    """Where the corpus HAS cluster structure, the self-sized dials hold
    recall LEVEL as the corpus grows (measured 1.000 at both 2k/k=8/p=3
    and 20k/k=128/p=12 on the 16-cluster fixture — the 20k point runs in
    the sf1-gated suite via tools/ivf_dial_study.py). This is the
    half of the r8 `weak` answer the isotropic fixture cannot show: on
    iid noise recall is information-limited to the scan fraction; on
    clustered data nearest-cell probing escapes the limit entirely."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k_for,
        kmeans_train,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    n, dim, n_clusters = 2000, 64, 16
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    pts = centers[labels] + 0.35 * rng.standard_normal((n, dim)) / (dim**0.5)
    emb = spark.createDataFrame(
        [(int(i), [float(round(x, 4)) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    k = kmeans_k_for(n)
    assert (k, n_probe_for(k)) == (8, 3)
    cents = kmeans_train(emb, k=k, n_iters=3, scale=KMEANS_SCALE)
    q = emb.filter(F.col("vec_id") % 25 == 0)
    ivf = similarity.ivf_topk_trained(q, emb, cents, k=5, scale=KMEANS_SCALE)
    bf = similarity.brute_force_topk(q, emb, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    assert len(truth) > 0
    assert len(got & truth) / len(truth) >= 0.95


def test_ivf_two_level_level_recall_on_clustered_corpus(spark):
    """The two-level lifecycle inherits the flat index's level-recall
    property on clustered data (measured 1.000 at BOTH 2k/k_total=64 and
    20k/k_total=137 via tools/ivf_dial_study.clustered_fixture): the
    coarse screen plus the sub probe still lands queries in the true
    cluster's cells. Also regression-pins the empty-coarse-cell path —
    at 20k the trainer leaves coarse cells empty and a query's top-c1
    ranking can include one; probing it must contribute nothing (the SQL
    twin's join semantics), not KeyError."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_train_two_level,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    n, dim, n_clusters = 2000, 64, 16
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    pts = centers[labels] + 0.35 * rng.standard_normal((n, dim)) / (dim**0.5)
    emb = spark.createDataFrame(
        [(int(i), [float(round(x, 4)) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)
    cents1, codebook = kmeans_train_two_level(emb, n=n, scale=KMEANS_SCALE)
    codebook = codebook.localCheckpoint(eager=True)
    q = emb.filter(F.col("vec_id") % 25 == 0)
    ivf = similarity.ivf_topk_two_level(
        q, emb, cents1, codebook, k=5, scale=KMEANS_SCALE
    )
    bf = similarity.brute_force_topk(q, emb, k=5)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    truth = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    assert len(truth) > 0
    assert len(got & truth) / len(truth) >= 0.95


def test_two_level_assign_string_id_foreign_corpus(spark):
    """Regression (ADVICE r12): assigning a STRING-keyed foreign corpus
    under a two-level codebook exercises the codebook-only-cell branch —
    cells the small corpus never hits cogroup with an empty left frame
    whose id column must carry the corpus's real dtype (left.iloc[:0]),
    not a hardcoded int64 (pyarrow raised ArrowTypeError even at zero
    rows). Values must equal the int-keyed assignment of the same
    vectors, both with and without keep_vec."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_assign_two_level,
        kmeans_train_two_level,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    n, dim = 2000, 16
    rng = np.random.default_rng(23)
    pts = np.round(rng.standard_normal((n, dim)), 4)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)
    cents1, codebook = kmeans_train_two_level(emb, n=n, scale=KMEANS_SCALE)
    codebook = codebook.localCheckpoint(eager=True)

    # a 5-vector foreign corpus (vectors drawn from the training corpus,
    # re-keyed as strings) hits at most 5 coarse cells; every other cell
    # is codebook-only and must yield a typed EMPTY frame, not a crash
    few = [0, 400, 800, 1200, 1600]
    foreign = spark.createDataFrame(
        [(f"doc-{i}", [float(x) for x in pts[i]]) for i in few],
        "vec_id string, embedding array<double>",
    )
    for keep_vec in (False, True):
        got = {
            (r.vec_id, r.cell, r.sub, r.sq_dist)
            for r in kmeans_assign_two_level(
                foreign, cents1, codebook, KMEANS_SCALE, keep_vec=keep_vec
            ).collect()
        }
        want = {
            (f"doc-{r.vec_id}", r.cell, r.sub, r.sq_dist)
            for r in kmeans_assign_two_level(
                emb, cents1, codebook, KMEANS_SCALE
            )
            .filter(F.col("vec_id").isin(few))
            .collect()
        }
        assert got == want and len(got) == len(few)


def test_two_level_sliced_build_equals_one_shot(spark, tmp_path):
    """The ninth-decade trainer (kmeans_train_two_level_sliced) must be
    VALUE-IDENTICAL to the one-shot build — level-2 training is cell-local,
    so slicing the coarse cells into balanced groups (bounding peak shuffle
    scratch to ~corpus/n_slices) may not change a single trained value:
    same level-1 centroids, same (cell, sub, centroid, n_members) rows, at
    two slice counts including one that leaves slices ragged."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_train_two_level,
        kmeans_train_two_level_sliced,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    n, dim = 2000, 16
    rng = np.random.default_rng(29)
    pts = np.round(rng.standard_normal((n, dim)), 4)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)

    cents1, codebook = kmeans_train_two_level(emb, n=n, scale=KMEANS_SCALE)
    want = {
        (r.cell, r.sub, tuple(r.c), r.n_members) for r in codebook.collect()
    }
    codebook.unpersist()
    assert len(want) > 8

    for n_slices in (3, 1):
        s_cents1, s_codebook = kmeans_train_two_level_sliced(
            emb, str(tmp_path / f"cb{n_slices}"), n_slices=n_slices,
            n=n, scale=KMEANS_SCALE,
        )
        assert s_cents1 == cents1
        got = {
            (r.cell, r.sub, tuple(r.c), r.n_members)
            for r in s_codebook.collect()
        }
        assert got == want


def test_two_level_sliced_skew_guard_refuses(spark, tmp_path):
    """The sliced trainer keeps the driver-side measured-refusal
    convention: the single counting pass (which also balances the slices)
    must refuse a coarse cell larger than max_cell_rows BEFORE any
    executor-side training task could raise."""
    import numpy as np

    import pytest

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_train_two_level_sliced,
    )
    from crdb_changefeed_publisher_spark.plans.llm import KMEANS_SCALE

    n, dim = 400, 8
    rng = np.random.default_rng(31)
    pts = np.round(rng.standard_normal((n, dim)) * 0.01, 4)  # one hot cell
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="largest coarse cell"):
        kmeans_train_two_level_sliced(
            emb, str(tmp_path / "cb"), n_slices=2, n=n,
            scale=KMEANS_SCALE, max_cell_rows=10,
        )


def test_ivf_lifecycle_value_exact_at_k2048(spark):
    """The k-generic PROOF behind extending KMEANS_K_CHOICES past 1024
    (r9 verdict #2): on a 4,000-vector corpus with cell_target=2 the
    dial picks k=2048 — one notch past the old edge — and the COMPLETE
    trained-IVF lifecycle (exact-integer Lloyd, nearest-centroid
    indexing, the pdial ~sqrt(k) probe = 46 cells, exact cosine rerank)
    must match the re-rendered DuckDB oracle twin row-for-row, exactly
    as the registered query does at its fixture ks. Nothing in Lloyd or
    the probe path may special-case k <= 1024."""
    import duckdb
    import numpy as np
    import pandas as pd

    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k_for,
        kmeans_train,
        n_probe_for,
    )
    from crdb_changefeed_publisher_spark.plans.llm import (
        KMEANS_SCALE,
        _ivf_trained_oracle,
    )

    n, d = 4000, 64
    rng = np.random.default_rng(17)
    pts = np.round(rng.standard_normal((n, d)), 4)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64),
         "embedding": [row.tolist() for row in pts]}
    )
    k = kmeans_k_for(n, cell_target=2)
    assert (k, n_probe_for(k)) == (2048, 46)

    emb = spark.createDataFrame(pdf)
    cents = kmeans_train(emb, k=k, n_iters=1, scale=KMEANS_SCALE)
    assert len(cents) == k
    got = sorted(
        (int(r.query_id), int(r.neighbor_id), float(r.score), int(r.rnk))
        for r in similarity.ivf_topk_trained(
            emb.filter(F.col("vec_id") % 100 == 0), emb, cents,
            k=5, n_probe=None, scale=KMEANS_SCALE,
        ).collect()
    )

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = sorted(
        (int(q), int(nb), float(s), int(r))
        for q, nb, s, r in con.execute(
            _ivf_trained_oracle(cell_target=2, n_iters=1, query_mod=100)
        ).fetchall()
    )
    assert len(want) > 0
    assert got == want


def test_int_sq_dists_blas_path_exact():
    """_int_sq_dists routes its cross term through float64 dgemm when
    d * max|Q| * max|C| < 2^52 (every partial sum an integer < 2^53 —
    exact in float64 under any blocking/FMA) and falls back to the
    int64 matmul past the guard. Both paths must return the SAME int64
    values as an arbitrary-precision Python-int reference: at the
    operating point (quantized |q| <= 4*scale = 4096), at max-magnitude
    inputs just UNDER the guard, and just OVER it (fallback path)."""
    import numpy as np

    from crdb_changefeed_publisher_spark.operators.linalg import (
        _int_sq_dists,
    )

    def exact_ref(Q, C):
        out = np.empty((len(Q), len(C)), dtype=np.int64)
        for i, q in enumerate(Q.tolist()):  # python ints: no overflow
            for j, c in enumerate(C.tolist()):
                out[i, j] = sum((a - b) * (a - b) for a, b in zip(q, c))
        return out

    rng = np.random.default_rng(7)
    # operating point: quantized-range magnitudes, BLAS path
    Q = rng.integers(-4096, 4097, size=(50, 64)).astype(np.int64)
    C = rng.integers(-4096, 4097, size=(17, 64)).astype(np.int64)
    assert 64 * 4096 * 4096 < (1 << 52)
    assert np.array_equal(_int_sq_dists(Q, C), exact_ref(Q, C))
    # just UNDER the guard: d=4, mq=2^25, mc=2^25 -> 4*2^50 = 2^52 is
    # NOT under; shave one: mc=2^25 - 1 keeps the product < 2^52
    mq, mc = 1 << 25, (1 << 25) - 1
    Qb = np.array([[mq, -mq, mq, -mq], [mq, mq, mq, mq]], dtype=np.int64)
    Cb = np.array([[mc, mc, -mc, mc], [-mc, -mc, -mc, -mc]], dtype=np.int64)
    assert 4 * mq * mc < (1 << 52)
    assert np.array_equal(_int_sq_dists(Qb, Cb), exact_ref(Qb, Cb))
    # just OVER the guard: the int64 fallback (products ~2^50, sums
    # ~2^52 — still exact in int64) must also match
    mq2 = 1 << 25
    Qo = np.array([[mq2, -mq2, mq2, -mq2]], dtype=np.int64)
    Co = np.array([[mq2, mq2, -mq2, mq2], [0, 1, 2, 3]], dtype=np.int64)
    assert not (4 * mq2 * mq2 < (1 << 52))
    assert np.array_equal(_int_sq_dists(Qo, Co), exact_ref(Qo, Co))
    # empty sides stay total on both paths
    assert _int_sq_dists(Q[:0], C).shape == (0, 17)
    assert _int_sq_dists(Q, C[:0]).shape == (50, 0)


def test_kmeans_dials_integer_exact():
    """n_probe_for is ceil(sqrt(k)) floored at 3 (the oracle pdial twin's
    MIN(p) WHERE p*p >= k over range(3, 128) — the range covers
    ceil-sqrt of the largest k choice, 91 for 8192); kmeans_k_for
    REFUSES past its largest choice's capacity instead of silently
    clamping (the banding saturation-guard convention — r8 verdict #1).
    r10 extends the choice list to 8192 (capacity 2.048M vectors at the
    default cell target — r9 verdict #2)."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        KMEANS_K_CHOICES,
        kmeans_k_for,
        n_probe_for,
    )

    assert [n_probe_for(k) for k in KMEANS_K_CHOICES] == [
        3, 4, 6, 8, 12, 16, 23, 32, 46, 64, 91,
    ]
    for k in KMEANS_K_CHOICES:
        p = n_probe_for(k)
        assert p * p >= k and (p == 3 or (p - 1) * (p - 1) < k)
        assert p <= k  # never probe more cells than exist
    assert kmeans_k_for(256_000) == 1024
    assert kmeans_k_for(256_001) == 2048  # the old r9 saturation edge
    assert kmeans_k_for(2_048_000) == 8192
    # the raise is preserved at the NEW edge (a boundary, not headroom)
    with pytest.raises(ValueError, match="saturated"):
        kmeans_k_for(2_048_001)


def test_kmeans_k1_dial_and_two_level_guard(spark):
    """The level-1 dial is the SQUARED comparison (k1 ~ ceil-sqrt of
    n/cell_target), so the two-level trainer's capacity is the square of
    the flat trainer's (8192^2 * 250 = 16.8e12); the flat dial's raise
    message points at the two-level escape; the coarse-cell skew guard
    refuses with the measured population instead of concentrating one
    task."""
    from crdb_changefeed_publisher_spark.operators.linalg import (
        kmeans_k1_for,
        kmeans_k_for,
        kmeans_train_two_level,
    )

    assert kmeans_k1_for(2000) == 8          # 8*8*250 = 16k >= 2k
    assert kmeans_k1_for(16_000) == 8        # the boundary itself
    assert kmeans_k1_for(16_001) == 16
    assert kmeans_k1_for(2_048_000) == 128   # flat capacity, k1 = sqrt(8192*...)
    assert kmeans_k1_for(20_480_000) == 512  # the seventh decade
    assert kmeans_k1_for(8192 * 8192 * 250) == 8192
    with pytest.raises(ValueError, match="saturated"):
        kmeans_k1_for(8192 * 8192 * 250 + 1)
    with pytest.raises(ValueError, match="two-level"):
        kmeans_k_for(2_048_001)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="coarse cell"):
        kmeans_train_two_level(emb, max_cell_rows=10)


def test_triangle_counts_handcrafted_topologies(spark):
    """4-clique (every node in C(3,2)=3 triangles), a pendant edge, a
    triangle-free star hub, and a chain: degree-oriented counting gets
    each exactly once — hubs contribute wedge work only via their
    oriented OUT-degree, never phantom triangles."""
    from crdb_changefeed_publisher_spark.operators.graph import triangle_counts

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pendant = [(3, 10)]
    star = [(20, x) for x in (21, 22, 23, 24)]
    chain = [(30, 31), (31, 32), (32, 33)]
    pairs = spark.createDataFrame(
        clique + pendant + star + chain, "doc_a long, doc_b long"
    )
    got = {
        int(r.node): int(r.n_triangles) for r in triangle_counts(pairs).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_block_candidate_guard_refuses_saturated_corpus(spark):
    """The measured saturation guard (r9 sf10 lesson): a corpus whose
    blocked candidate join grows quadratically must REFUSE with the
    measured numbers, not melt down. 120 near-identical documents all
    share min-hash blocks and simhash chunks -> both guarded operators
    raise under a tight budget; the real fixture passes the registered
    budget (covered by the oracle gates, which run the guarded plans)."""
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta " * 4)
            for i in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="saturated"):
        dedup.jaccard_pairs_minhash_block(
            docs, threshold=0.2, candidate_budget=10
        ).collect()
    with pytest.raises(ValueError, match="saturated"):
        dedup.simhash_near_dup_degrees(docs, candidate_budget=10).collect()
    with pytest.raises(ValueError, match="saturated"):
        dedup.simhash_portable_pairs(docs, candidate_budget=10).collect()
    # an untight budget lets the same corpus through unchanged
    out = dedup.simhash_near_dup_degrees(docs, candidate_budget=10_000)
    assert out.count() == 120  # all near-identical: every doc has a neighbor


def test_bipartite_guard_refuses_saturated_passjoin(spark):
    """block_candidate_guard_bipartite on PassJoin's (l, slot, seg) key:
    a corpus of identical strings shares every segment, so projected
    candidates are quadratic and a tight budget must refuse; a generous
    budget passes the same corpus through unchanged (all pairs ed=0)."""
    from crdb_changefeed_publisher_spark.operators.linkage import fuzzy_pairs_passjoin

    rows = [(i, "identical linkage key text for every row") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="saturated"):
        fuzzy_pairs_passjoin(docs, candidate_budget=5).collect()
    out = fuzzy_pairs_passjoin(docs, candidate_budget=10_000)
    assert out.count() == 60 * 59 // 2  # every pair, ed = 0
    # a caller-threaded n_docs replaces the extra docs.count() scan and
    # is honored by the guard arithmetic: budget*n_docs scales with it
    with pytest.raises(ValueError, match="over 1 items"):
        fuzzy_pairs_passjoin(docs, candidate_budget=5, n_docs=1).collect()
    out = fuzzy_pairs_passjoin(docs, candidate_budget=5, n_docs=10**9)
    assert out.count() == 60 * 59 // 2
