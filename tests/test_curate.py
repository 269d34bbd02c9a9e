"""curate_corpus: each gate (dedup canonical, decontamination, quality,
stratified sampling) drops exactly the docs it should, independently."""

from __future__ import annotations

from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators import curate
from crdb_changefeed_publisher_spark.tables import load_table

LONG = " ".join(f"w{i}" for i in range(30))  # passes the quality gate


def test_each_gate_drops_independently(spark):
    bench_text = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            # doc 0: doc_id % 97 == 0 -> IS the benchmark -> contamination 1.0
            (0, bench_text, "fr"),
            # 1 kept; 11 is an exact duplicate (non-canonical)
            (1, LONG, "fr"),
            (11, LONG, "fr"),
            # 3: quality fail vs the 0.5 gate (short, low-diversity text
            # scores 0.4524; the long docs score >= 0.53)
            (3, "x x", "fr"),
            # 5: sampled out for en (quota 5/10 keeps doc_id%10 < 5)
            (15, LONG + " en extra words here", "en"),
            # 4: en inside quota
            (4, LONG + " more en words here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    kept = curate.curate_corpus(docs, lang_quotas={"en": 5}, quality_min=0.5)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 4}

    rows = {r.doc_id: r for r in kept.collect()}
    assert rows[1].is_canonical and rows[1].contamination == 0.0 and rows[1].sampled
    assert rows[1].n_tokens == 30


def test_curation_report_accounts_for_every_language(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    kept = curate.curate_corpus(docs)
    report = {r.lang: r for r in curate.curation_report(docs, kept).collect()}
    n_in = docs.count()
    assert sum(r.n_docs_in for r in report.values()) == n_in
    assert all(0 <= r.n_docs_kept <= r.n_docs_in for r in report.values())
    # English is downsampled by the default quota; others keep everything
    # that passes the content gates, so en's keep rate must be the lowest
    en = report["en"].keep_rate
    assert en <= min(r.keep_rate for r in report.values())
    # determinism: a re-run selects the identical corpus
    again = curate.curate_corpus(docs)
    assert kept.select("doc_id").subtract(again.select("doc_id")).count() == 0
    assert again.select("doc_id").subtract(kept.select("doc_id")).count() == 0


def test_curated_plan_is_one_job_no_smells(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        curate.curate_corpus(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # the benchmark n-gram set


def test_mixture_weights_invariants(spark):
    """Temperature-scaled mixture weights: target shares form a
    distribution, alpha=1 reproduces the natural mix (all rates 1), and
    alpha<1 upsamples tail languages relative to the head (rates capped
    at 1, dominant language's rate < 1)."""
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")

    natural = {r.lang: r for r in curate.mixture_weights(docs, alpha=1.0).collect()}
    assert all(abs(r.sample_rate - 1.0) < 1e-9 for r in natural.values())
    assert abs(sum(r.target_share for r in natural.values()) - 1.0) < 1e-6

    tempered = {r.lang: r for r in curate.mixture_weights(docs, alpha=0.5).collect()}
    assert abs(sum(r.target_share for r in tempered.values()) - 1.0) < 1e-6
    head = max(tempered.values(), key=lambda r: r.domain_tokens)
    tail = min(tempered.values(), key=lambda r: r.domain_tokens)
    assert head.sample_rate < 1.0  # dominant language downsampled
    assert tail.target_share > tail.natural_share  # tail upsampled
    assert all(r.sample_rate <= 1.0 for r in tempered.values())


def test_hash_split_deterministic_disjoint_and_weighted(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = curate.hash_split(docs).select("doc_id", "bucket", "split")
    rows = {r.doc_id: r for r in out.collect()}
    again = {r.doc_id: r for r in curate.hash_split(docs).select("doc_id", "bucket", "split").collect()}
    assert rows == again  # deterministic: identical assignment across runs
    n = len(rows)
    by_split = {}
    for r in rows.values():
        assert 0 <= r.bucket < curate.SPLIT_BUCKETS
        by_split[r.split] = by_split.get(r.split, 0) + 1
    assert set(by_split) == {"train", "val", "test"}
    # 90/5/5 within generous tolerance at n=500
    assert abs(by_split["train"] / n - 0.90) < 0.05
    assert abs(by_split["val"] / n - 0.05) < 0.04
    assert abs(by_split["test"] / n - 0.05) < 0.04


def test_hash_split_seed_changes_assignment_weights_respected(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    a = {r.doc_id: r.split for r in curate.hash_split(docs, seed="a").select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in curate.hash_split(docs, seed="b").select("doc_id", "split").collect()}
    assert a != b  # a new seed reshuffles
    two = curate.hash_split(docs, weights=[("fit", 0.5), ("holdout", 0.5)])
    counts = {r.split: r.n for r in two.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"fit", "holdout"}
    assert abs(counts["fit"] - counts["holdout"]) < 0.2 * sum(counts.values())


def test_rate_sample_converges_and_is_stable(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    rates = spark.createDataFrame([("en", 0.5)], "lang string, sample_rate double")
    kept = curate.rate_sample(docs, rates)
    en_total = docs.filter(F.col("lang") == "en").count()
    en_kept = kept.filter(F.col("lang") == "en").count()
    other_total = docs.filter(F.col("lang") != "en").count()
    other_kept = kept.filter(F.col("lang") != "en").count()
    assert other_kept == other_total  # unlisted domains default to rate 1
    assert abs(en_kept / en_total - 0.5) < 0.12  # expected-rate convergence
    assert kept.count() == curate.rate_sample(docs, rates).count()  # stable


def test_rate_sample_zero_and_one(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    rates = spark.createDataFrame(
        [("en", 0.0), ("de", 1.0)], "lang string, sample_rate double"
    )
    kept = curate.rate_sample(docs, rates)
    assert kept.filter(F.col("lang") == "en").count() == 0
    assert (
        kept.filter(F.col("lang") == "de").count()
        == docs.filter(F.col("lang") == "de").count()
    )


def test_domain_quota_sample_exact_and_deterministic(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = curate.domain_quota_sample(docs, quota=7, domain_col="lang")
    per = {r.lang: r.n for r in got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(7, sizes[lang])
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    again = sorted(
        r.doc_id for r in curate.domain_quota_sample(docs, quota=7, domain_col="lang").select("doc_id").collect()
    )
    assert ids == again


def test_domain_quota_scaled_identical(spark):
    # the two-phase salted form must keep EXACTLY the same rows as the
    # single-window form, for quotas spanning smaller and larger than the
    # salt-partition survivor sets
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    for quota, salt_parts in ((7, 8), (40, 4)):
        one = sorted(
            r.doc_id
            for r in curate.domain_quota_sample(docs, quota=quota).select("doc_id").collect()
        )
        two = sorted(
            r.doc_id
            for r in curate.domain_quota_sample_scaled(
                docs, quota=quota, salt_parts=salt_parts
            )
            .select("doc_id")
            .collect()
        )
        assert one == two
    # the phase-2 window input is bounded: <= salt_parts * quota per domain
    pruned_cap = 4 * 40
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    assert any(r.n > pruned_cap for r in sizes), "fixture too small to exercise the prune"


def test_weighted_sample_biases_deterministic_and_topk_planned(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    from crdb_changefeed_publisher_spark.operators.text import word_count

    w = word_count(F.col("text")).cast("double")
    df = docs.withColumn("_w", w)
    out = curate.weighted_sample_k(df, k=100, weight=F.col("_w"))
    rows = out.collect()
    assert len(rows) == 100
    # weight-proportional selection must bias toward longer documents
    sample_mean = sum(r._w for r in rows) / len(rows)
    corpus_mean = df.agg(F.avg("_w")).collect()[0][0]
    assert sample_mean > corpus_mean
    # deterministic rerun; different seed gives a different set
    again = {r.doc_id for r in curate.weighted_sample_k(df, k=100, weight=F.col("_w")).collect()}
    other = {
        r.doc_id
        for r in curate.weighted_sample_k(df, k=100, weight=F.col("_w"), seed="s2").collect()
    }
    assert {r.doc_id for r in rows} == again != other
    # k-smallest plans as distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in out._jdf.queryExecution().executedPlan().toString()


def test_shuffle_layout_permutation_balance_and_seed(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    n = docs.count()
    out = curate.shuffle_layout(docs, n_shards=8).collect()
    # positions are exactly 1..n (a permutation), shards balanced within 1
    assert sorted(r.pos for r in out) == list(range(1, n + 1))
    sizes = {}
    for r in out:
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1 and len(sizes) == 8
    # the order is seed-keyed: a different seed produces a different
    # permutation (astronomically unlikely to collide), the same seed the same
    pos1 = {r.doc_id: r.pos for r in out}
    pos2 = {r.doc_id: r.pos for r in curate.shuffle_layout(docs, n_shards=8).collect()}
    pos3 = {
        r.doc_id: r.pos
        for r in curate.shuffle_layout(docs, n_shards=8, seed="epoch-2").collect()
    }
    assert pos1 == pos2 and pos1 != pos3


def test_select_token_budget_greedy_prefix(spark):
    # quality order at these lengths tracks the length band; the budget cut
    # must land mid-order and the INCLUSIVE-cumsum rule decides the edge doc
    rows = [
        (1, "one " * 400),   # 400 tokens, top quality (length band saturated)
        (2, "two " * 300),   # 300 tokens
        (3, "three " * 80),  # 80 tokens, shortest -> lowest quality
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in curate.select_token_budget(docs, budget_tokens=750).collect()
    }
    # doc 1 (400) + doc 2 (700 cum) fit; doc 3 would push past 750
    assert got == {1: (400, 400), 2: (300, 700)}
    # budget smaller than the best doc keeps nothing
    assert curate.select_token_budget(docs, budget_tokens=100).count() == 0


def test_uniform_sample_k_exact_nested_and_planned_as_topk(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    s10 = sorted(r.doc_id for r in curate.uniform_sample_k(docs, 10).select("doc_id").collect())
    s25 = sorted(r.doc_id for r in curate.uniform_sample_k(docs, 25).select("doc_id").collect())
    assert len(s10) == 10 and len(s25) == 25
    assert set(s10) <= set(s25)  # nested samples
    assert s10 == sorted(
        r.doc_id for r in curate.uniform_sample_k(docs, 10).select("doc_id").collect()
    )  # deterministic
    plan = curate.uniform_sample_k(docs, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort


def test_seeded_hash_matches_hashlib_reference(spark):
    """The split/sample decision hash == int(sha256(seed:id).hexdigest()[:15], 16)
    computed by CPython — pins the cross-engine portability contract."""
    import hashlib

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(64)
    got = {
        r.doc_id: r.h
        for r in docs.select(
            "doc_id", curate._seeded_hash("split-v1", "doc_id").alias("h")
        ).collect()
    }
    for doc_id, h in got.items():
        ref = int(hashlib.sha256(f"split-v1:{doc_id}".encode()).hexdigest()[:15], 16)
        assert h == ref, doc_id


def test_repetition_gate_is_optional_and_drops_loop_docs(spark):
    """drop_repetitive=False (default) leaves the registered behavior
    untouched; =True additionally drops only docs the Gopher signals flag."""
    loop = " ".join(["spam"] * 40)            # saturates every signal
    clean = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, clean, "fr"), (2, loop, "fr")], "doc_id long, text string, lang string"
    )
    base = curate.curate_corpus(docs, quality_min=0.0)
    gated = curate.curate_corpus(docs, quality_min=0.0, drop_repetitive=True)
    assert {r.doc_id for r in base.collect()} == {1, 2}
    assert {r.doc_id for r in gated.collect()} == {1}


def test_source_scorecard_verdict_semantics(spark):
    """Hand-built sources pin the verdict thresholds: a high-quality
    original source keeps, a mostly-duplicated one fails the dup gate
    into review, and a junk source drops. Duplicate rate counts content
    appearing >1x ANYWHERE in the corpus, not just within the source."""
    from crdb_changefeed_publisher_spark.operators.curate import source_scorecard

    # > 500 chars so the length band saturates; sparse punctuation
    good = " ".join(["the quick brown fox jumps over a lazy dog running far afield"] * 9) + "."
    junk = "x" * 40  # one 40-char word -> word-length sanity fails, low quality
    rows = (
        # clean source: 3 distinct good docs
        [("clean", "en", good + f" variant {i}") for i in range(3)]
        # reserver: same good docs VERBATIM (cross-source duplicates)
        + [("reserver", "en", good + f" variant {i}") for i in range(3)]
        # junker: unusable text (distinct per doc — dup gate stays clean)
        + [("junker", "en", junk + str(i)) for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "source string, lang string, text string")
    out = {r.source: r for r in source_scorecard(docs).collect()}

    # both copies of each duplicated content count as duplicates, so the
    # clean source ALSO shows dup pressure — the decision the scorecard
    # exists to surface (some feed is re-serving the corpus)
    assert out["clean"].dup_rate == 1.0 and out["reserver"].dup_rate == 1.0
    assert out["clean"].verdict == "review"  # quality fine, dup gate fails
    assert out["junker"].dup_rate == 0.0
    assert out["junker"].verdict == "drop"
    assert out["junker"].avg_quality < 0.5 < out["clean"].avg_quality

    # a source with original content keeps
    solo = spark.createDataFrame(
        [("solo", "en", good + f" unique {i}") for i in range(3)],
        "source string, lang string, text string",
    )
    kept = source_scorecard(solo).collect()[0]
    assert kept.verdict == "keep" and kept.dup_rate == 0.0


def test_split_leakage_report_semantics(spark):
    """Hand-built pair list: only boundary-crossing pairs survive, split
    names come out orientation-stable (split_a <= split_b), and the
    est_jaccard passes through untouched."""
    from crdb_changefeed_publisher_spark.operators.curate import (
        hash_split,
        split_leakage_report,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 200)], "doc_id long")
    labels = {r.doc_id: r.split for r in hash_split(docs).collect()}
    trains = [k for k, s in labels.items() if s == "train"]
    evals = [k for k, s in labels.items() if s != "train"]
    assert len(trains) >= 2 and len(evals) >= 2

    pairs = spark.createDataFrame(
        [
            (trains[0], trains[1], 0.9),   # same split -> excluded
            (trains[0], evals[0], 0.8),    # crosses -> reported
            (evals[0], trains[1], 1.0),    # crosses, reversed orientation
        ],
        "doc_a long, doc_b long, est_jaccard double",
    )
    out = split_leakage_report(docs, pairs).collect()
    assert len(out) == 2
    for r in out:
        assert r.split_a <= r.split_b
        assert (r.split_a, r.split_b) != ("train", "train")
    assert {r.est_jaccard for r in out} == {0.8, 1.0}


def test_dsir_weights_discriminate_handcrafted(spark):
    """Planted DSIR semantics (the fixture's lang column is a tag over one
    shared vocabulary, so the spec verifies exactness — THIS corpus has
    real distributional structure): bigrams shared with the target score
    above neutral, bigrams alien to it below, featureless docs exactly
    neutral, and the race returns a deterministic exact-k set."""
    from crdb_changefeed_publisher_spark.operators.curate import (
        dsir_importance_weights,
        dsir_resample_k,
    )

    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat with the cat") for i in range(3)],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),        # target-like
            (2, "quantum flux torsion manifold solver"),  # alien
            (3, "hi"),                            # featureless (1 word)
        ],
        "doc_id long, text string",
    )
    w = {r.doc_id: r for r in dsir_importance_weights(pool, target).collect()}
    neutral = 1 << 20
    assert w[3].n_bigrams == 0 and w[3].score == neutral
    assert w[1].score > neutral, w[1]
    assert w[2].score < neutral, w[2]
    assert w[1].score > w[3].score > w[2].score

    got1 = sorted(r.doc_id for r in dsir_resample_k(pool, target, k=2).collect())
    got2 = sorted(r.doc_id for r in dsir_resample_k(pool, target, k=2).collect())
    assert len(got1) == 2 and got1 == got2  # exact-k, rerun-identical
