"""Round-2 operator tests: vectorized portable hash, minhash-blocked Jaccard
(skew-bounded), portable SimHash, multi-probe SRP-LSH recall, GEMM reranks."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.functions import phash
from crdb_changefeed_publisher_spark.functions.vectors import as_double, cosine, cosine_arrow
from crdb_changefeed_publisher_spark.operators import dedup, similarity, text
from crdb_changefeed_publisher_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def docs_df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_poly_hash_matches_expression_forms(spark):
    """phash.poly_hash (Arrow) == the interpreted HOF spec forms on real docs."""
    docs = load_table(spark, SF, "documents").limit(50)
    rows = docs.select(
        phash.poly_hash(F.col("text"), max_len=4096).alias("fast"),
        text.fingerprint(F.col("text")).alias("spec"),
    ).collect()
    assert rows and all(r.fast == r.spec for r in rows)
    sh = dedup.shingle_rows(docs).limit(200)
    rows = sh.select(
        phash.poly_hash(F.col("shingle")).alias("fast"),
        dedup._portable_string_hash(F.col("shingle")).alias("spec"),
    ).collect()
    assert rows and all(r.fast == r.spec for r in rows)


def test_poly_hash_property_random_unicode():
    """Hypothesis: the vectorized batch hash equals the per-char Python fold
    for arbitrary unicode, both truncation lengths, mixed with Nones."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def ref(s, max_len):
        h = 0
        for ch in s[:max_len]:
            h = (h * phash.BASE + ord(ch)) % phash.MOD
        return h

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(
            st.one_of(st.none(), st.text(max_size=300)),
            min_size=1,
            max_size=20,
        )
    )
    def check(texts):
        for max_len in (256, 4096):
            got = phash._hash_batch(pd.Series(texts, dtype=object), max_len)
            for s, g in zip(texts, got):
                if s is None:
                    assert pd.isna(g)
                else:
                    assert g == ref(s, max_len)

    check()


def test_jaccard_minhash_block_identical_docs(spark):
    df = docs_df(
        spark,
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),
            (3, "completely different text here now"),
        ],
    )
    pairs = dedup.jaccard_pairs_minhash_block(df, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_jaccard_block_cap_preserves_results_and_bounds_tasks(spark):
    """Adversarial heavy-hitter: every doc shares one boilerplate shingle that
    is also the min-hash block key. The salted cap must (a) not change the
    result, (b) bound the probe-side rows per (block, salt) task."""
    # 'zzz zzz zzz' dominates; each doc also has unique filler
    rows = [(i, f"zzz zzz zzz filler{i} mid{i} tail{i}") for i in range(12)]
    df = docs_df(spark, rows)
    capped = dedup.jaccard_pairs_minhash_block(df, threshold=0.05, block_cap=3)
    uncapped = dedup.jaccard_pairs_minhash_block(df, threshold=0.05, block_cap=10**9)
    got_c = {(p.doc_a, p.doc_b, p.jaccard) for p in capped.collect()}
    got_u = {(p.doc_a, p.doc_b, p.jaccard) for p in uncapped.collect()}
    # the salted cap changes the physical join layout, never the result
    assert got_c == got_u and len(got_u) == 45
    # every pair exactly once (no salt duplication)
    pairs = [(p.doc_a, p.doc_b) for p in capped.collect()]
    assert len(pairs) == len(set(pairs))
    # probe-side task bound: replicate the salting and check group sizes
    sets = (
        dedup.shingle_rows(df)
        .withColumn("h", phash.poly_hash(F.col("shingle")))
        .groupBy("doc_id")
        .agg(F.min("h").alias("block"))
    )
    sizes = sets.groupBy("block").agg(F.count(F.lit(1)).alias("m"))
    max_m = sizes.agg(F.max("m")).collect()[0][0]
    assert max_m > 3, "heavy-hitter block did not form; salting path untested"
    salted = sets.join(sizes, "block").withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.ceil(F.col("m") / 3).cast("int"))
    )
    grp = salted.groupBy("block", "salt").count().agg(F.max("count")).collect()[0][0]
    # the mega-block's probe side splits across ceil(m/cap) salts: no task
    # group anywhere near the uncapped m
    assert grp < max_m, (grp, max_m)


def test_simhash_portable_identical_docs_hamming_zero(spark):
    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
        ],
    )
    sigs = {r.doc_id: r.sig for r in dedup.simhash_portable_signatures(df).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    assert 0 <= sigs[1] < (1 << dedup.SIMHASH_PORTABLE_BITS)
    pairs = {
        (p.doc_a, p.doc_b): p.hamming
        for p in dedup.simhash_portable_pairs(df, max_hamming=0).collect()
    }
    assert pairs == {(1, 2): 0}


def test_simhash_banding_is_parameterized(spark):
    """The (n_chunks, chunk_bits) dial (docs/SCALE.md sizing rule): exact
    duplicates (Hamming 0) share every chunk, so they are found under ANY
    banding; a coarser 3x10 layout of the same 30-bit signature and the
    5-bit micro-banding both agree with the default 2x15 on them."""
    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
            (4, "zeta eta theta iota kappa"),
        ],
    )
    expect = {(1, 2): 0, (3, 4): 0}
    for n_chunks, chunk_bits in [(2, 15), (3, 10), (6, 5)]:
        pairs = {
            (p.doc_a, p.doc_b): p.hamming
            for p in dedup.simhash_portable_pairs(
                df, max_hamming=0, n_chunks=n_chunks, chunk_bits=chunk_bits
            ).collect()
        }
        assert pairs == expect, (n_chunks, chunk_bits, pairs)


def test_connected_components_toy_graph(spark):
    """Components {2,3,4}, {5,6}, singleton {1}; labels = min id; keepers
    are exactly the min ids."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=4), Row(doc_a=5, doc_b=6)]
    )
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(1, 7)])
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 2, 5: 5, 6: 5}

    # distributed min-label-propagation fallback (driver_edge_cap=0 forces
    # it) must produce the identical clustering
    dist = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes, driver_edge_cap=0).collect()
    }
    assert dist == got

    # a longer chain (diameter > 2) through both paths
    chain = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(10, 17)]
    )
    chain_nodes = spark.createDataFrame([Row(doc_id=i) for i in range(10, 19)])
    fast = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(chain, chain_nodes).collect()
    }
    slow = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(chain, chain_nodes, driver_edge_cap=0).collect()
    }
    expect = {i: (10 if i <= 17 else i) for i in range(10, 19)}
    assert fast == slow == expect


def test_connected_components_string_ids_both_paths(spark):
    """Non-integer doc ids (string/UUID corpora) must work on BOTH paths:
    the fast path derives its label schema from the nodes' id type instead
    of assuming long (r4 ADVICE), and min-label semantics are the id
    type's own ordering."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], "doc_a string, doc_b string"
    )
    nodes = spark.createDataFrame(
        [(s,) for s in "abcdxy"], "doc_id string"
    )
    expect = {"a": "a", "b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}
    fast = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    slow = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes, driver_edge_cap=0).collect()
    }
    assert fast == slow == expect


def test_connected_components_long_chain_converges(spark):
    """A 12-node path graph needs several propagation rounds; the fixed
    point must still be the global min."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(1, 12)])
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(1, 13)])
    got = {r.doc_id: r.cluster_id for r in dedup.connected_components(pairs, nodes).collect()}
    assert got == {i: 1 for i in range(1, 13)}


def test_pack_sequences_matches_naive_window(spark):
    """Two-phase packing == the naive single-partition-window formulation,
    and the engine plan contains no unpartitioned window over the data
    (the only Window.orderBy with no partition runs on the per-partition
    stats frame, num_partitions rows)."""
    from pyspark.sql import Window

    from crdb_changefeed_publisher_spark.operators import text as t
    from crdb_changefeed_publisher_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    cap = 512
    got = {r.doc_id: r for r in t.pack_sequences(docs, capacity=cap).collect()}

    n_tok = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r.doc_id: r
        for r in docs.select(F.col("doc_id"), n_tok.alias("n_tokens"))
        .withColumn("excl", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("excl") / cap).cast("long").alias("bin_id"),
            (F.col("excl") % cap).cast("long").alias("offset_in_bin"),
        )
        .collect()
    }
    assert set(got) == set(naive)
    for d, r in got.items():
        assert (r.bin_id, r.offset_in_bin, r.n_tokens) == (
            naive[d].bin_id,
            naive[d].offset_in_bin,
            naive[d].n_tokens,
        ), d
        assert 0 <= r.offset_in_bin < cap
        assert r.spans_bins == (r.offset_in_bin + r.n_tokens > cap)

    # bins are dense: every bin id up to the last is used
    total_tokens = sum(r.n_tokens for r in got.values())
    assert max(r.bin_id for r in got.values()) <= (total_tokens - 1) // cap

    # plan shape: range exchange present; the data-side window is
    # partitioned by _pid (no "Window [... ORDER BY ...]" over the full
    # docs without a partition spec feeding from the document scan)
    plan = (
        t.pack_sequences(docs, capacity=cap)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()


def test_cosine_arrow_matches_expression(spark):
    emb = load_table(spark, SF, "embeddings").limit(64)
    a = emb.select(F.col("vec_id").alias("ia"), as_double(F.col("embedding")).alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), as_double(F.col("embedding")).alias("vb"))
    joined = a.join(b, a.ia % 8 == b.ib % 8)
    rows = joined.select(
        cosine_arrow(F.col("va"), F.col("vb")).alias("fast"),
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("spec"),
    ).collect()
    assert rows and all(abs(r.fast - r.spec) < 1e-9 for r in rows)


def test_embedding_cosine_pairs_matches_expression_join(spark):
    emb = load_table(spark, SF, "embeddings")
    gemm = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dedup.embedding_cosine_pairs(emb, threshold=0.3).collect()
    }
    v = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("e"))
    a = v.select(F.col("vec_id").alias("vec_a"), "label", F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("vec_b"), "label", F.col("e").alias("eb"))
    sim = cosine(F.col("ea"), F.col("eb"))
    ref = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(sim >= 0.3)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
        .collect()
    }
    assert gemm == ref


def test_srp_lsh_recall_vs_bruteforce(spark):
    """Multi-probe SRP-LSH must recover >= 0.9 of the exact top-5 sets."""
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.srp_lsh_topk(queries, emb, k=5, n_probes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_chunk_documents_windows_and_strides(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10)))])
    got = {
        r.chunk_idx: (r.chunk_text, r.n_tokens)
        for r in text.chunk_documents(df, window=4, stride=3).collect()
    }
    assert got == {
        0: ("w0 w1 w2 w3", 4),
        1: ("w3 w4 w5 w6", 4),
        2: ("w6 w7 w8 w9", 4),
        3: ("w9", 1),
    }
    # short doc -> single chunk
    one = text.chunk_documents(
        spark.createDataFrame([Row(doc_id=2, text="a b")]), window=4, stride=3
    ).collect()
    assert [(r.chunk_idx, r.chunk_text, r.n_tokens) for r in one] == [(0, "a b", 2)]


def test_word_ngrams_udtf_matches_relational_shingles(spark):
    from crdb_changefeed_publisher_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, SF, "documents").limit(20)
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = {
        (r.doc_id, r.gram)
        for r in spark.sql(
            "SELECT d.doc_id, g.gram FROM udtf_docs d, LATERAL word_ngrams(d.text, 3) g"
        ).collect()
    }
    via_relational = {
        (r.doc_id, r.shingle) for r in dedup.shingle_rows(docs, n=3).collect()
    }
    assert via_udtf == via_relational and via_udtf


def test_global_rank_matches_naive_window(spark):
    """Two-phase global rank == single-partition window for every kind,
    including ties, on a fact-sized (orders) input."""
    from pyspark.sql import Window

    from crdb_changefeed_publisher_spark.functions.ranks import global_rank

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", (F.col("o_totalprice") % 1000).cast("int").alias("bucketed")
    )  # bucketing the price forces plenty of ties
    order = [F.col("bucketed").desc(), F.col("o_orderkey")]
    naive_w = Window.orderBy(*order)
    for kind in ("rank", "dense_rank", "row_number"):
        got = {
            r.o_orderkey: r.rnk
            for r in global_rank(
                o, order_cols=order, key_cols=["bucketed", "o_orderkey"], kind=kind
            ).collect()
        }
        want = {
            r.o_orderkey: r.rnk
            for r in o.withColumn("rnk", getattr(F, kind)().over(naive_w)).collect()
        }
        assert got == want, kind
    # and the two-phase plan has no single-partition data window: its only
    # unpartitioned window runs over the per-partition stats rows
    plan = global_rank(
        o, order_cols=order, key_cols=["bucketed", "o_orderkey"], kind="rank"
    )._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_srp_lsh_signatures_carry_no_vectors(spark):
    """Round-1 regression: the signature explode must not duplicate the
    embedding payload L times. The bucket-join stage of the plan references
    only id/table/bucket columns; vectors appear solely in the two rerank
    joins (neighbor_v / query_v), i.e. exactly twice in the optimized plan."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    df = similarity.srp_lsh_topk(queries, emb, k=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the mapInPandas signature schemas are ids-only
    assert "query_v" in plan and "neighbor_v" in plan  # rerank joins exist
    assert plan.count("ArrowEvalPython") <= 1  # one vectorized rerank scorer
    for leaked in ("query_v#", "neighbor_v#"):
        # each vector column is introduced once (its own scan), not exploded
        # through the signature/bucket stage
        first = plan.find(leaked)
        assert first != -1


def test_repetition_signals_handcrafted(spark):
    """Closed-form checks on tiny docs: a pure loop doc saturates every
    signal; a fully-diverse doc scores 0 everywhere; a half-repetitive doc
    gets the exact hand-computed fractions."""
    docs = docs_df(
        spark,
        [
            (0, "spam spam spam spam spam spam"),       # 6x one word, 29 chars
            (1, "alpha bravo charlie delta echo fox"),  # all distinct
            (2, "a b a b a b x y z w"),                 # top 2-gram "a b" x3
        ],
    )
    got = {r.doc_id: r for r in text.repetition_signals(docs).collect()}

    loop = got[0]
    # 6 words, 1 distinct -> dup_word_frac = 1 - 1/6 = 0.8333
    assert loop.dup_word_frac == pytest.approx(0.8333)
    # top 2-gram "spam spam" (9 chars) occurs 5x -> 45/29 capped at 1
    assert loop.top2_char_frac == 1.0
    assert loop.dup5_char_frac == 1.0
    assert loop.repetitive is True

    div = got[1]
    assert div.dup_word_frac == 0.0
    assert div.top2_char_frac == 0.0  # no 2-gram repeats: count-1 top gram is not repetition
    assert div.dup5_char_frac == 0.0
    assert div.repetitive is False

    half = got[2]
    # 10 words, 6 distinct -> 0.4; "a b" (3 chars) x3 of 19 chars
    assert half.dup_word_frac == pytest.approx(0.4)
    assert half.top2_char_frac == pytest.approx(9 / 19, abs=1e-4)
    assert half.repetitive is True


def test_repetition_signals_short_doc_has_zero_long_gram_fracs(spark):
    """A 3-word doc has no 4- or 5-grams: those fractions coalesce to 0."""
    got = text.repetition_signals(docs_df(spark, [(0, "tiny doc here")])).collect()[0]
    assert got.top4_char_frac == 0.0
    assert got.dup5_char_frac == 0.0
    assert got.repetitive is False


def test_pii_scrub_handcrafted(spark):
    docs = docs_df(
        spark,
        [
            (0, "mail a.b-c_d@sub.example.org now"),
            (1, "server 192.168.0.1 and 10.0.255.7 up"),
            (2, "call +1 555-1234 or +44 123-9876"),
            (3, "no pii here at all"),
            (4, "mixed bob@x.io on 8.8.8.8 tel +1 555-0000"),
        ],
    )
    got = {r.doc_id: r for r in text.pii_scrub(docs).collect()}
    assert (got[0].n_email, got[0].n_ipv4, got[0].n_phone) == (1, 0, 0)
    assert got[0].clean_text == "mail <EMAIL> now"
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (0, 2, 0)
    assert got[1].clean_text == "server <IPV4> and <IPV4> up"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 2)
    assert got[3].n_pii == 0
    assert got[3].clean_text == "no pii here at all"
    assert got[4].n_pii == 3
    assert got[4].clean_text == "mixed <EMAIL> on <IPV4> tel <PHONE>"
    assert got[4].redacted_len == len(got[4].clean_text)


def test_pii_patterns_match_python_re_property():
    """Hypothesis: Spark/DuckDB-portable PII patterns behave like CPython re
    on arbitrary text mixes (counts via finditer)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    compiled = {k: re.compile(v) for k, v in text.PII_PATTERNS.items()}
    frag = st.sampled_from(
        [
            "plain words here",
            "a@b.co",
            "x.y-z@mail.example.com",
            "1.2.3.4",
            "255.255.255.255",
            "+1 555-1234",
            "+44 123 4567",
            "not@an",
            "1.2.3",
            "555-1234",
            "trailing dot. next",
        ]
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(frag, min_size=1, max_size=8))
    def check(frags):
        s = " ".join(frags)
        from crdb_changefeed_publisher_spark.session import get_spark

        spark = get_spark()
        row = text.pii_scrub(
            spark.createDataFrame([(0, s)], "doc_id long, text string")
        ).collect()[0]
        for name, cre in compiled.items():
            assert getattr(row, f"n_{name}") == len(cre.findall(s)), (name, s)

    check()


def test_range_join_buckets_boundaries_and_equijoin_plan(spark):
    """Window edges are inclusive on both ends ([l-gap, l]); matches across
    a bucket boundary are found; the physical join is an equi hash/SMJ join
    (no BroadcastNestedLoop / Cartesian from the inequality)."""
    from datetime import datetime

    from crdb_changefeed_publisher_spark.operators.joins import range_join_buckets

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, sec)

    left = spark.createDataFrame(
        [(1, 100, ts(50))], "user_id long, l_id long, l_ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, 200, ts(50)),  # exact same instant -> gap 0, kept
            (1, 201, ts(40)),  # gap 10s, kept (exactly at the gap edge)
            (1, 202, ts(39)),  # gap 11s, outside
            (1, 203, ts(51)),  # after left, outside
            (2, 204, ts(50)),  # other key
        ],
        "user_id long, r_id long, r_ts timestamp",
    )
    out = range_join_buckets(
        left, right, key_col="user_id", gap_seconds=10, left_ts="l_ts", right_ts="r_ts"
    )
    got = {(r.l_id, r.r_id): r.gap_us for r in out.collect()}
    assert got == {(100, 200): 0, (100, 201): 10_000_000}

    # bucket-boundary crossing: l at 60s (bucket 6), r at 52s (bucket 5)
    left2 = spark.createDataFrame([(1, 100, ts(0).replace(minute=1))], "user_id long, l_id long, l_ts timestamp")
    right2 = spark.createDataFrame([(1, 300, ts(52))], "user_id long, r_id long, r_ts timestamp")
    out2 = range_join_buckets(left2, right2, "user_id", 10, "l_ts", "r_ts").collect()
    assert [(r.l_id, r.r_id, r.gap_us) for r in out2] == [(100, 300, 8_000_000)]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_join_buckets_matches_naive_inequality_join(spark):
    """Bucketed equi-join == the naive inequality join on real fixture data."""
    from crdb_changefeed_publisher_spark.operators.joins import range_join_buckets

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    bucketed = {
        (r.p_id, r.c_id, r.gap_us)
        for r in range_join_buckets(p, c, "user_id", 1800, "p_ts", "c_ts").collect()
    }
    naive = {
        (r.p_id, r.c_id, r.gap_us)
        for r in p.join(c, "user_id")
        .withColumn("gap_us", F.unix_micros("p_ts") - F.unix_micros("c_ts"))
        .filter((F.col("gap_us") >= 0) & (F.col("gap_us") <= 1800 * 1_000_000))
        .collect()
    }
    assert bucketed == naive and len(naive) > 0


def test_resample_locf_handcrafted_gaps(spark):
    """Explicit gaps: buckets between observations appear with n_obs=0 and
    carry the last observed sum forward; grid spans exactly [first, last]."""
    from datetime import datetime

    from crdb_changefeed_publisher_spark.operators.timeseries import resample_locf

    rows = [
        (1, datetime(2024, 1, 1, 0, 15), 1.0),
        (1, datetime(2024, 1, 1, 0, 45), 2.0),   # same bucket as above
        (1, datetime(2024, 1, 1, 3, 10), 10.0),  # 2-hour gap before this
        (2, datetime(2024, 1, 1, 5, 0), 7.0),    # single-bucket key
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r.user_id, r.bucket): (r.n_obs, r.value_sum, r.is_gap)
        for r in resample_locf(ev).collect()
    }
    # derive the base bucket from the result: relative offsets are
    # tz-independent (all rows convert through the same session tz)
    h0 = min(b for (u, b) in got if u == 1)
    assert got == {
        (1, h0): (2, 3.0, False),
        (1, h0 + 1): (0, 3.0, True),
        (1, h0 + 2): (0, 3.0, True),
        (1, h0 + 3): (1, 10.0, False),
        (2, h0 + 5): (1, 7.0, False),
    }


def test_weighted_median_handcrafted(spark):
    """Known answers: weights pull the median toward the heavy value; a
    group where half the weight sits exactly on the boundary picks the
    boundary value (cum*2 >= tot, smallest qualifying)."""
    from pyspark.sql import Row
    from crdb_changefeed_publisher_spark.operators.timeseries import weighted_median

    rows = [
        # group a: values 1,2,3 weights 1,1,10 -> median 3 (10/12 of weight)
        Row(g="a", v=1.0, w=1), Row(g="a", v=2.0, w=1), Row(g="a", v=3.0, w=10),
        # group b: values 1,2 weights 1,1 -> cum at v=1 is 1, tot 2 -> 1 qualifies
        Row(g="b", v=1.0, w=1), Row(g="b", v=2.0, w=1),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.g: (r.total_weight, r.weighted_median)
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == {"a": (12, 3.0), "b": (2, 1.0)}


def test_rolling_zscore_handcrafted(spark):
    """Cold start -> NULL; constant window -> NULL (zero variance); a spike
    after a stable run -> flagged; the window excludes the current row."""
    from datetime import datetime

    from crdb_changefeed_publisher_spark.operators.timeseries import rolling_zscore

    base = datetime(2024, 1, 1)
    vals = [10.0, 10.0, 12.0, 8.0, 10.0, 100.0, 10.0]
    rows = [
        (i, base.replace(minute=i), 1, v) for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    got = {r.event_id: (r.z, r.is_anomaly) for r in rolling_zscore(ev, window_rows=5).collect()}
    assert got[0] == (None, False)          # empty window
    assert got[1] == (None, False)          # n=1
    assert got[2] == (None, False)          # window {10,10}: zero variance
    assert got[3][1] is False               # 8 vs {10,10,12}: not extreme
    assert got[5][1] is True and got[5][0] > 3   # 100 vs stable window
    assert got[6][1] is False               # window now contains the spike


def test_resample_interpolate_handcrafted_gaps(spark):
    """Gap buckets lerp between the neighboring observations (exact
    integer-ten-thousandths half-up); observed buckets keep their sum;
    trailing gaps would LOCF (none here: grid ends at the last obs)."""
    from datetime import datetime

    from crdb_changefeed_publisher_spark.operators.timeseries import resample_interpolate

    rows = [
        (1, datetime(2024, 1, 1, 0, 15), 1.0),
        (1, datetime(2024, 1, 1, 3, 10), 10.0),  # gaps at +1h, +2h
        (2, datetime(2024, 1, 1, 5, 0), 7.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r.user_id, r.bucket): (r.n_obs, r.value_interp, r.is_gap)
        for r in resample_interpolate(ev).collect()
    }
    h0 = min(b for (u, b) in got if u == 1)
    assert got == {
        (1, h0): (1, 1.0, False),
        (1, h0 + 1): (0, 4.0, True),   # 1 + (10-1)*1/3
        (1, h0 + 2): (0, 7.0, True),   # 1 + (10-1)*2/3
        (1, h0 + 3): (1, 10.0, False),
        (2, h0 + 5): (1, 7.0, False),
    }


def test_repetition_signals_property_vs_python_reference(spark):
    """Hypothesis: the relational repetition signals equal a direct Python
    Counter-based reference on random small-vocab word docs (small vocab
    forces heavy gram collisions — the interesting regime)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def r4(x):
        # Spark/DuckDB round() is half-AWAY-FROM-ZERO for positive doubles;
        # CPython round() is banker's (0.28125 -> 0.2812) — found by
        # hypothesis at an exact half-boundary, so mirror the engines here
        import math

        return math.floor(x * 10000 + 0.5) / 10000

    def ref(text):
        words = text.strip().split(" ")
        n_chars = len(text.strip())
        out = {}
        for n in range(1, 6):
            grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
            c = Counter(grams)
            if n == 1:
                total = sum(c.values())
                out["dup_word_frac"] = r4(1.0 - len(c) / total)
            reps = {g: k for g, k in c.items() if k >= 2}
            if n in (2, 3, 4):
                if reps:
                    # tiebreak: count desc, gram asc
                    best = sorted(reps.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                    cov = best[1] * len(best[0])
                else:
                    cov = 0
                out[f"top{n}_char_frac"] = r4(min(1.0, cov / n_chars))
            if n == 5:
                dup = sum(k * len(g) for g, k in reps.items())
                out["dup5_char_frac"] = r4(min(1.0, dup / n_chars))
        return out

    word = st.sampled_from(["a", "bb", "ccc", "dd", "e"])
    doc = st.lists(word, min_size=1, max_size=30).map(" ".join)

    @settings(max_examples=20, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(texts):
        df = docs_df(spark, list(enumerate(texts)))
        got = {r.doc_id: r for r in text.repetition_signals(df).collect()}
        for i, t in enumerate(texts):
            want = ref(t)
            r = got[i]
            for k, v in want.items():
                assert getattr(r, k) == pytest.approx(v, abs=1e-9), (k, t)

    check()


def test_hard_negatives_exclude_query_label(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    out = similarity.brute_force_topk(q, emb, k=3, neg_group_col="label")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows
    for r in rows:
        assert labels[r.neighbor_id] != labels[r.query_id]
    # without the mask, at least one same-label neighbor appears somewhere
    plain = similarity.brute_force_topk(q, emb, k=3)
    assert any(labels[r.neighbor_id] == labels[r.query_id] for r in plain.collect())


def test_bpe_learn_toy_corpus_and_lossless_apply(spark):
    """Classic BPE toy: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3 —
    frequent pairs merge first, ties break lexicographically; applying the
    merges is lossless and deterministic."""
    from crdb_changefeed_publisher_spark.operators import tokenize as bpe

    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = docs_df(spark, [(0, corpus)])
    merges = bpe.learn_bpe(docs, n_merges=10)
    assert merges == bpe.learn_bpe(docs, n_merges=10)  # deterministic
    # 'es' (9), 'est' (9), 'est</w>' (9) dominate; 'lo' and 'low' follow
    assert merges[0] == ("e", "s")
    assert ("es", "t") in merges and ("l", "o") in merges
    out = {r.doc_id: r for r in bpe.apply_bpe(docs, merges).collect()}
    r = out[0]
    assert r.n_words == 16
    assert r.n_tokens < sum(len(w) + 1 for w in corpus.split(" "))  # compressed
    rebuilt = "".join(r.tokens).replace(bpe.END, " ").strip()
    assert rebuilt == corpus


def test_bpe_matches_python_reference(spark):
    """learn_bpe + apply_bpe == a direct single-process implementation of
    the published algorithm on the same corpus."""
    from collections import Counter

    from crdb_changefeed_publisher_spark.operators import tokenize as bpe

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown cat naps under the warm sun",
        "quick thinking wins the slow race every time",
    ]

    def ref_learn(texts, n):
        vocab = Counter()
        for t in texts:
            for w in t.strip().split(" "):
                vocab[tuple(w) + (bpe.END,)] += 1
        merges = []
        for _ in range(n):
            pairs = Counter()
            for syms, f in vocab.items():
                for p in zip(syms, syms[1:]):
                    pairs[p] += f
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if pairs[best] < 2:
                break
            merges.append(best)
            vocab = Counter({bpe._merge_word(s, best): f for s, f in vocab.items()})
        return merges

    docs = docs_df(spark, list(enumerate(texts)))
    got = bpe.learn_bpe(docs, n_merges=30)
    assert got == ref_learn(texts, 30)

    ranks = {p: i for i, p in enumerate(got)}
    applied = {r.doc_id: r.tokens for r in bpe.apply_bpe(docs, got).collect()}
    for i, t in enumerate(texts):
        want = [tok for w in t.split(" ") for tok in bpe.encode_word(w, ranks)]
        assert applied[i] == want


def test_bpe_lossless_on_fixture_corpus(spark):
    from crdb_changefeed_publisher_spark.operators import tokenize as bpe

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = bpe.learn_bpe(docs, n_merges=64)
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in bpe.apply_bpe(docs, merges).collect():
        rebuilt = "".join(r.tokens).replace(bpe.END, " ").strip()
        assert rebuilt == " ".join(texts[r.doc_id].strip().split(" ")), r.doc_id


def test_range_join_buckets_property_random_timestamps(spark):
    """Hypothesis: bucketed range join == the O(n^2) Python reference on
    random micro-timestamp multisets (hits bucket boundaries by volume)."""
    from datetime import datetime, timedelta

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crdb_changefeed_publisher_spark.operators.joins import range_join_buckets

    base = datetime(2024, 1, 1)
    GAP = 7  # seconds — deliberately not a divisor of anything

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=12),
        st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=12),
    )
    def check(ls, rs):
        left = spark.createDataFrame(
            [(k, i, base + timedelta(seconds=s)) for i, (k, s) in enumerate(ls)],
            "user_id long, l_id long, l_ts timestamp",
        )
        right = spark.createDataFrame(
            [(k, i, base + timedelta(seconds=s)) for i, (k, s) in enumerate(rs)],
            "user_id long, r_id long, r_ts timestamp",
        )
        got = {
            (r.l_id, r.r_id)
            for r in range_join_buckets(left, right, "user_id", GAP, "l_ts", "r_ts").collect()
        }
        want = {
            (i, j)
            for i, (lk, lsec) in enumerate(ls)
            for j, (rk, rsec) in enumerate(rs)
            if lk == rk and 0 <= lsec - rsec <= GAP
        }
        assert got == want, (ls, rs)

    check()


def test_repetition_signals_empty_and_whitespace_docs(spark):
    """Zero-char docs produce 0 signals and repetitive=False, never NULLs
    (the NULL-flag trap: false | NULL = NULL would un-gate the filter)."""
    docs = docs_df(spark, [(0, ""), (1, "   "), (2, "real words here now")])
    got = {r.doc_id: r for r in text.repetition_signals(docs).collect()}
    for i in (0, 1):
        r = got[i]
        assert (r.top2_char_frac, r.dup5_char_frac) == (0.0, 0.0)
        assert r.repetitive is False


def test_duplicate_span_report_handcrafted(spark):
    """Hand-checked semantics of the cross-doc duplicated-span detector
    (n=3 for a small example):
    - doc 1 and doc 2 share one 5-word run -> three shared 3-grams each;
    - doc 3 shares nothing;
    - doc 4 (a verbatim copy of doc 1) makes EVERY doc-1 gram duplicated;
    - doc 5 has fewer than n words -> no row."""
    from crdb_changefeed_publisher_spark.operators.text import duplicate_span_report

    rows = [
        (1, "the quick brown fox jumps over a lazy dog"),   # 9 words, 7 grams
        (2, "once upon the quick brown fox jumps again ok"),  # shares 5-word run
        (3, "completely different text with no overlap at all"),
        (4, "the quick brown fox jumps over a lazy dog"),   # exact copy of 1
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_span_report(docs, n=3).collect()}

    assert set(out) == {1, 2, 3, 4}
    # doc 1: all 7 grams duplicated (doc 4 copies all; docs 2 shares 3)
    assert out[1].n_grams == 7 and out[1].n_dup_grams == 7
    assert out[1].mostly_duplicated
    # doc 2: 7 grams; shared run "the quick brown fox jumps" gives 3 dup grams
    assert out[2].n_grams == 7 and out[2].n_dup_grams == 3
    assert out[2].dup_fraction == round(3 / 7, 4)
    assert not out[2].mostly_duplicated
    # doc 3: clean
    assert out[3].n_dup_grams == 0 and out[3].dup_fraction == 0.0
    # doc 4 mirrors doc 1
    assert out[4].n_dup_grams == 7 and out[4].mostly_duplicated


def test_exact_substring_excise_handcrafted(spark):
    """Hand-checked ExactSubstr excision semantics (n=3):
    - docs 1/2 share the 5-word run "the quick brown fox jumps": the
      three shared 3-grams' coverages MERGE into one maximal excised
      span in each doc, wherever the run sits;
    - doc 3 shares nothing -> kept verbatim;
    - doc 4 repeats a 3-gram WITHIN itself -> both occurrences excised
      (all corpus occurrences count, not distinct docs);
    - doc 5 is shorter than n -> no grams, kept verbatim."""
    from crdb_changefeed_publisher_spark.operators.text import exact_substring_excise

    rows = [
        (1, "the quick brown fox jumps over a lazy dog"),
        (2, "once upon the quick brown fox jumps again ok"),
        (3, "completely different text with no overlap at all"),
        (4, "x y repeat me now and repeat me now z"),
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in exact_substring_excise(docs, n=3).collect()}

    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].kept_text == "over a lazy dog"
    assert (out[1].n_words, out[1].n_removed_words) == (9, 5)
    assert out[1].removed_fraction == round(5 / 9, 4)
    assert out[2].kept_text == "once upon again ok"
    assert (out[2].n_words, out[2].n_removed_words) == (9, 5)
    assert out[3].kept_text == "completely different text with no overlap at all"
    assert out[3].n_removed_words == 0 and out[3].removed_fraction == 0.0
    assert out[4].kept_text == "x y and z"
    assert (out[4].n_words, out[4].n_removed_words) == (10, 6)
    assert out[5].kept_text == "too short"
    assert out[5].n_removed_words == 0


def test_exact_substring_excise_sliced_equals_one_shot(spark):
    """The disk-bounded sliced form (r10 verdict #3) must be VALUE-
    IDENTICAL to the one-shot form: same digests (hashlib sha256 ==
    Spark sha2 on the same gram bytes), same all-occurrence min_count,
    same coverage merge — only the pass structure differs. Runs on the
    handcrafted corpus (every semantic edge: cross-doc runs, within-doc
    repeats, sub-n docs) plus the 5k realistic tier."""
    from crdb_changefeed_publisher_spark.fixtures import ensure_tier
    from crdb_changefeed_publisher_spark.operators.text import (
        exact_substring_excise,
        exact_substring_excise_sliced,
    )

    rows = [
        (1, "the quick brown fox jumps over a lazy dog"),
        (2, "once upon the quick brown fox jumps again ok"),
        (3, "completely different text with no overlap at all"),
        (4, "x y repeat me now and repeat me now z"),
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    one = sorted(tuple(r) for r in exact_substring_excise(docs, n=3).collect())
    sl = sorted(
        tuple(r)
        for r in exact_substring_excise_sliced(docs, n=3, n_slices=3).collect()
    )
    assert one == sl

    real = spark.read.parquet(f"{ensure_tier(5000)}/documents.parquet")
    one_r = sorted(
        tuple(r) for r in exact_substring_excise(real, n=8, min_count=2).collect()
    )
    sl_r = sorted(
        tuple(r)
        for r in exact_substring_excise_sliced(
            real, n=8, min_count=2, n_slices=4
        ).collect()
    )
    assert len(one_r) == 5000 and one_r == sl_r


def test_contaminated_span_excise_handcrafted(spark):
    """Passage-scrub semantics (n=3): only benchmark-overlapping runs are
    removed; corpus-internal duplication is NOT this operator's business
    (docs 2/3 share a run absent from the benchmark — both keep it)."""
    from crdb_changefeed_publisher_spark.operators.text import contaminated_span_excise

    bench = spark.createDataFrame(
        [(900, "the quick brown fox")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "intro words the quick brown fox outro tail"),
            (2, "shared internal run here nothing leaked"),
            (3, "also shared internal run here but clean"),
            (4, "hi"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contaminated_span_excise(docs, bench, n=3).collect()}
    assert out[1].kept_text == "intro words outro tail"
    assert (out[1].n_words, out[1].n_removed_words) == (8, 4)
    assert out[2].kept_text == "shared internal run here nothing leaked"
    assert out[2].n_removed_words == 0
    assert out[3].n_removed_words == 0
    assert out[4].kept_text == "hi" and out[4].n_removed_words == 0


def test_exact_substring_excise_sliced_string_ids(spark):
    """Slicing hashes the id (pmod(xxhash64(id), n)) so string-keyed
    corpora — the hash-split convention everywhere else — work; values
    must still equal the one-shot form run on the same docs."""
    from crdb_changefeed_publisher_spark.operators.text import (
        exact_substring_excise,
        exact_substring_excise_sliced,
    )

    rows = [
        ("doc-a", "the quick brown fox jumps over a lazy dog"),
        ("doc-b", "once upon the quick brown fox jumps again ok"),
        ("doc-c", "completely different text with no overlap at all"),
        ("doc-d", "x y repeat me now and repeat me now z"),
        ("doc-e", "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    one = sorted(tuple(r) for r in exact_substring_excise(docs, n=3).collect())
    sl = sorted(
        tuple(r)
        for r in exact_substring_excise_sliced(docs, n=3, n_slices=3).collect()
    )
    assert one == sl and len(sl) == 5
