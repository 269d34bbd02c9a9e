"""End-to-end corpus curation: the composition a training-data pipeline
actually runs over the documents table, built entirely from the registered
operator families:

    exact-dedup -> benchmark decontamination -> quality gate -> stratified
    language rebalancing

Each stage is a registered, oracle-verified operator (or the exact same
column expressions); this module wires them into one DataFrame plan so the
whole sweep runs as a single Spark job — Catalyst sees every filter at
once, and the (big) text column is scanned exactly once.

Scale shape: one partial-agg shuffle for the dedup keep-list, one broadcast
join for the benchmark n-gram set, everything else per-row — the same
per-stage postures documented in docs/SCALE.md. Every gate is DETERMINISTIC
(hash/mod arithmetic, no rand()), so a re-run over the same snapshot
produces the same corpus — the property that makes 100 TB curation runs
resumable and auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Column, Window

from crdb_changefeed_publisher_spark.operators.text import (
    benchmark_contamination,
    quality_score,
    word_count,
)

# Default train/val/test weights for hash_split (ordered: assignment is by
# cumulative threshold, so order is part of the contract).
DEFAULT_SPLIT_WEIGHTS: list[tuple[str, float]] = [
    ("train", 0.90),
    ("val", 0.05),
    ("test", 0.05),
]
SPLIT_BUCKETS = 10_000  # split resolution: 0.01% granularity
SAMPLE_BUCKETS = 1_000_000  # rate-sampling resolution: 1e-6 granularity


def _seeded_hash(seed: str, id_col: str) -> Column:
    """Deterministic per-row priority in [0, 2^60): the first 15 hex digits
    of sha2-256 over ``seed || ':' || id``, parsed as an integer. sha2 is
    the repo's content-address primitive (exact dedup, curation canonical
    gate) and — unlike the polynomial fingerprint, whose low bits are
    LINEAR in the trailing id digits — has full avalanche, so modular
    buckets of sequential ids are uniform. Changing the seed re-randomizes
    every downstream decision; the same (seed, id) always lands in the
    same bucket on ANY engine — the property that makes splits/samples
    reproducible across reruns, engines, and backfills (no rand() state)."""
    hx = F.substring(F.sha2(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")), 256), 1, 15)
    return F.conv(hx, 16, 10).cast("long")


def hash_split(
    docs: DataFrame,
    weights: list[tuple[str, float]] | None = None,
    seed: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST split assignment — the step every
    training-data pipeline runs after curation. Adds ``bucket`` (hash of
    the seeded id into [0, SPLIT_BUCKETS)) and ``split`` (first name whose
    cumulative-weight threshold exceeds the bucket).

    Pure per-row codegen: no shuffle, no state, no sampling drift — a new
    document added to a 100 TB corpus cannot move any existing document's
    split, and the val/test sets are stable across corpus versions (the
    contamination-containment property leakage audits rely on)."""
    ws = DEFAULT_SPLIT_WEIGHTS if weights is None else weights
    total = sum(w for _, w in ws)
    bucket = (_seeded_hash(seed, id_col) % SPLIT_BUCKETS).alias("bucket")
    out = docs.withColumn("bucket", bucket)
    expr = F.lit(ws[-1][0])  # last split absorbs rounding remainder
    cum = 0.0
    thresholds = []
    for name, w in ws[:-1]:
        cum += w / total
        thresholds.append((name, int(round(cum * SPLIT_BUCKETS))))
    for name, thr in reversed(thresholds):
        expr = F.when(F.col("bucket") < thr, F.lit(name)).otherwise(expr)
    return out.withColumn("split", expr)


def rate_sample(
    docs: DataFrame,
    rates: DataFrame,
    domain_col: str = "lang",
    rate_col: str = "sample_rate",
    seed: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Realize per-domain sampling RATES (e.g. mixture_weights' output) as a
    deterministic document filter: keep a document iff
    ``seeded_hash(id) % SAMPLE_BUCKETS < floor(rate * SAMPLE_BUCKETS)``.

    This is the 100 TB shape for rebalancing: the rates frame is tiny (one
    row per domain) and BROADCASTS; the decision is then per-row codegen —
    no window, no per-domain shuffle, no collect. Expected kept share per
    domain converges to the rate; the decision for a given (seed, id) is
    stable across runs (resumable sharded builds sample identically)."""
    r = F.broadcast(rates.select(F.col(domain_col), F.col(rate_col)))
    return (
        docs.join(r, domain_col, "left")
        .withColumn(rate_col, F.coalesce(F.col(rate_col), F.lit(1.0)))
        .filter(
            (_seeded_hash(seed, id_col) % SAMPLE_BUCKETS)
            < F.floor(F.col(rate_col) * SAMPLE_BUCKETS).cast("long")
        )
    )


def uniform_sample_k(
    docs: DataFrame,
    k: int,
    seed: str = "uniform-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-k uniform sample without replacement: the k documents with the
    smallest seeded-hash priority (ties impossible modulo sha2 collisions).
    Equivalent in distribution to a single-pass reservoir sample, but
    deterministic, rerunnable, and DISTRIBUTED: Spark executes the k-smallest
    as per-partition top-k + TakeOrderedAndProject — no global sort, no
    single-partition funnel, no reservoir state. Increasing k by one keeps
    the previous k rows (nested samples), which reservoir algorithms do not
    guarantee across runs."""
    pri = _seeded_hash(seed, id_col)
    return docs.orderBy(pri.asc(), F.col(id_col).asc()).limit(k)


def domain_quota_sample(
    docs: DataFrame,
    quota: int,
    domain_col: str = "lang",
    seed: str = "quota-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT per-domain quota sampling: keep the `quota` documents with the
    smallest seeded-hash priority in each domain (ties broken by id).
    Deterministic and stable under reruns; unlike rate_sample the kept
    count is exact, not expected.

    Scale note: the rank is a per-domain window — fine when domains are
    many or quotas are small, but a single 100 TB domain funnels into one
    window partition. `domain_quota_sample_scaled` returns the IDENTICAL
    result with the funnel removed (two-phase salted prune); rate_sample
    (expected counts, per-row) remains the zero-window alternative."""
    pri = _seeded_hash(seed, id_col)
    w = Window.partitionBy(domain_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def domain_quota_sample_scaled(
    docs: DataFrame,
    quota: int,
    domain_col: str = "lang",
    seed: str = "quota-v1",
    id_col: str = "doc_id",
    salt_parts: int = 32,
) -> DataFrame:
    """EXACT per-domain quota sampling at scale: result-identical to
    `domain_quota_sample` (asserted by test_domain_quota_scaled_identical),
    with the single-window-partition funnel for a mega-domain removed.

    Phase 1 ranks within (domain, salt) — salt = hash(id) mod salt_parts —
    and keeps each salt's `quota` smallest priorities. Correctness: the
    domain's true top-quota set is contained in the union of per-salt
    top-quota sets (a row outside its own salt's top-quota is dominated by
    `quota` rows in the same domain, so it cannot be in the domain's
    top-quota). Phase 2 ranks the survivors exactly; its window input is
    <= salt_parts * quota rows per domain REGARDLESS of corpus size, so the
    per-domain funnel is bounded by the dial, not the data. Both phases are
    one hash shuffle + partition-local sort; decisions use the same seeded
    sha2 priority, so the kept set matches the one-phase form row for row."""
    pri = _seeded_hash(seed, id_col)
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salt_parts))
    w1 = Window.partitionBy(domain_col, "_salt").orderBy(pri.asc(), F.col(id_col).asc())
    pruned = (
        docs.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= quota)
        .drop("_salt", "_rn")
    )
    w2 = Window.partitionBy(domain_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )

# Deterministic per-language sampling quotas out of 10 (language REBALANCING:
# the fixture corpus is ~44% English; downsampling the dominant language is
# the standard curation move). doc_id % 10 < quota keeps the decision
# portable, reproducible, and joinable — no rand() seeds to track.
DEFAULT_LANG_QUOTAS: dict[str, int] = {"en": 5}
DEFAULT_QUOTA = 10  # non-listed languages keep everything


def weighted_sample_k(
    docs: DataFrame,
    k: int,
    weight: Column,
    seed: str = "wsample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-k weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    exponential race): each row gets priority ``-ln(u) / w`` with u the
    seeded-hash uniform in (0,1) and w its weight; the k smallest
    priorities are a weighted sample without replacement (row i wins
    proportionally to w_i among remaining rows — the A-ES result). The
    standard way to, e.g., sample documents proportionally to token count.

    Deterministic and distributed exactly like `uniform_sample_k`: no
    rand() state, reruns identical, and the k-smallest plans as
    per-partition top-k + TakeOrderedAndProject — no global sort.
    Priorities round to 10 decimals (relative scale ~1) with an id
    tiebreak, so the selected set is reproducible on any engine despite
    libm ln() differing in the last ulp.

    u construction (exact IEEE, any engine): the 60-bit seeded hash's top
    52 bits plus a half-offset, scaled by 2^-52 — every step (floor-div by
    256, +0.5, divide by 2^52) is exactly representable in a double, so
    u is uniform on 2^52 equally spaced atoms STRICTLY inside (0,1).
    The previous form ``(h+1)/float(2^60+1)`` let doubles within 64 ulps
    of 2^60 round u to exactly 1.0, making the priority 0 regardless of
    weight (ADVICE r5). Note a naive fix of dividing by 2^61 would bias
    the race: u ~ U(0,1/2) adds a weight-dependent ln(2)/w term to the
    exponential key, breaking the A-ES property — the offset-and-scale
    form keeps u ~ U(0,1).

    Output: the sampled rows with their ``priority`` appended.
    """
    # shiftright (not `/ 256` + floor): division would first round the
    # 60-bit long to a double, smearing the top values across a 2^52-atom
    # boundary; the integer shift is exact, and a 52-bit integer casts to
    # double losslessly.
    u = (F.shiftright(_seeded_hash(seed, id_col), 8).cast("double") + 0.5) / F.lit(
        float(2**52)
    )
    pri = F.round(-F.log(u) / weight, 10)
    return (
        docs.withColumn("priority", pri)
        .orderBy(F.col("priority").asc(), F.col(id_col).asc())
        .limit(k)
    )


def shuffle_layout(
    docs: DataFrame,
    n_shards: int = 16,
    seed: str = "shuffle-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global TRAINING-ORDER SHUFFLE + sharding: every
    document gets a global position in a seeded pseudorandom order and a
    round-robin shard — the layout step that randomizes example order
    before sharded dataset writes (sequential corpus order leaks
    curriculum; per-epoch reshuffles just change the seed).

    Position = two-phase global row_number (functions/ranks.py) over
    (seeded sha2 priority, id): one range shuffle of (id, priority) pairs +
    a broadcast per-partition offset table — never a single-partition
    window. Round-robin on position balances shard sizes to within one
    row, and the whole layout is a pure function of (seed, ids): rerun,
    resume, or backfill produces the identical order on any engine.

    Output: (doc_id, pos 1-based, shard).
    """
    from crdb_changefeed_publisher_spark.functions.ranks import global_rank

    pri = _seeded_hash(seed, id_col)
    base = docs.select(F.col(id_col).alias("doc_id"), pri.alias("_pri"))
    ranked = global_rank(
        base,
        [F.col("_pri").asc(), F.col("doc_id").asc()],
        ["_pri", "doc_id"],
        kind="row_number",
        out="pos",
    )
    return ranked.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        ((F.col("pos") - 1) % n_shards).cast("int").alias("shard"),
    )


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Budget-constrained corpus selection: keep the BEST-quality documents
    whose cumulative token count fits `budget_tokens` — the "we can afford
    N tokens of pretraining data, take the best N" step that follows
    curation in a real pipeline.

    Rule: order documents by (quality desc, id asc) — quality is the
    composite heuristic in integer ten-thousandths, so the order is exact
    on any engine — and keep the greedy prefix whose INCLUSIVE cumulative
    token count stays <= budget.

    Scale shape: the cumulative sum over the quality order is TWO-PHASE
    (same construction as pack_sequences / functions/ranks.py): range-
    partition on the order key, partition-local running sum, broadcast
    per-partition offsets. No single-partition window ever sees the data;
    the only unpartitioned window is over num_partitions stats rows.

    Output: (doc_id, quality, n_tokens, cum_tokens) for kept docs.
    """
    from crdb_changefeed_publisher_spark.operators.text import quality_score, word_count

    q4 = F.round(quality_score(F.col(text_col)) * 10000).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        q4.alias("_q4"),
        word_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    parted = base.repartitionByRange(F.col("_q4").desc(), F.col("doc_id")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(F.col("_q4").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn("_cum", F.sum("n_tokens").over(w_local))
    stats = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_n"))
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.withColumn("_off", F.coalesce(F.sum("_n").over(w_cum), F.lit(0)))
    cum = F.col("_off") + F.col("_cum")
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .filter(cum <= budget_tokens)
        .select(
            "doc_id",
            (F.col("_q4") / 10000.0).alias("quality"),
            "n_tokens",
            cum.alias("cum_tokens"),
        )
    )


def curate_corpus(
    docs: DataFrame,
    contamination_max: float = 0.05,
    quality_min: float = 0.2,
    lang_quotas: dict[str, int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    contamination: DataFrame | None = None,
    drop_repetitive: bool = False,
) -> DataFrame:
    """Return the curated corpus: one row per KEPT document plus the gate
    columns (is_canonical, contamination, quality, sampled) so an audit can
    reconstruct every decision. Drop reasons compose independently — a doc
    must pass ALL gates.

    `contamination`: optionally a precomputed `benchmark_contamination`
    output for these docs (must carry doc_id + contamination) — the
    corpus-wide 8-gram pass is the expensive stage, and a production run
    computes it once per corpus snapshot and feeds every consumer
    (plans/llm.py persists one per session/sf_dir)."""
    quotas = DEFAULT_LANG_QUOTAS if lang_quotas is None else lang_quotas

    # gate 1: exact dedup — canonical copy = min doc_id per exact text.
    # Grouped/joined on sha2-256 of the text (32 B shuffle + broadcastable
    # key frame instead of moving the corpus text twice; same collision
    # contract as operators/dedup.py::exact_duplicates)
    text_key = F.unhex(F.sha2(F.col(text_col), 256))  # raw 32 B: hex is lz4-incompressible (docs/SCALE.md)
    canon = docs.groupBy(text_key.alias("_tkey")).agg(F.min(id_col).alias("_canon_id"))
    with_canon = (
        docs.withColumn("_tkey", text_key)
        .join(canon, "_tkey")
        .withColumn("is_canonical", F.col(id_col) == F.col("_canon_id"))
        .drop("_tkey")
    )

    # gate 2: benchmark decontamination (broadcast n-gram set; docs too
    # short for any 8-gram cannot be contaminated -> contamination 0)
    if contamination is None:
        contamination = benchmark_contamination(docs, text_col=text_col, id_col=id_col)
    contam = contamination.select(F.col("doc_id").alias(id_col), "contamination")
    with_contam = with_canon.join(contam, id_col, "left").withColumn(
        "contamination", F.coalesce(F.col("contamination"), F.lit(0.0))
    )

    # gate 3: quality score (portable arithmetic, per-row)
    with_quality = with_contam.withColumn("quality", F.round(quality_score(F.col(text_col)), 4))

    # gate 3b (optional): Gopher-style repetition filter — off by default so
    # the registered corpus_curation_report oracle is unchanged; when on,
    # the repetition signals join by doc id (their grams shuffle doc-local,
    # see operators/text.py::repetition_signals)
    if drop_repetitive:
        from crdb_changefeed_publisher_spark.operators.text import repetition_signals

        rep = repetition_signals(docs, text_col=text_col, id_col=id_col).select(
            F.col("doc_id").alias(id_col), "repetitive"
        )
        with_quality = with_quality.join(rep, id_col, "left").withColumn(
            "repetitive", F.coalesce(F.col("repetitive"), F.lit(False))
        )

    # gate 4: deterministic stratified sampling by language
    quota_expr = F.lit(DEFAULT_QUOTA)
    for lang, q in sorted(quotas.items()):
        quota_expr = F.when(F.col(lang_col) == lang, F.lit(q)).otherwise(quota_expr)
    sampled = with_quality.withColumn("sampled", (F.col(id_col) % 10) < quota_expr)

    keep = (
        F.col("is_canonical")
        & (F.col("contamination") <= contamination_max)
        & (F.col("quality") >= quality_min)
        & F.col("sampled")
    )
    if drop_repetitive:
        keep = keep & ~F.col("repetitive")
    return (
        sampled.filter(keep)
        .drop("_canon_id")
        .withColumn("n_tokens", word_count(F.col(text_col)))
    )


def mixture_weights(
    docs: DataFrame,
    alpha: float = 0.5,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled DOMAIN MIXTURE weights — the multilingual/
    multi-domain rebalancing rule used by LLM pretraining pipelines
    (sample domain d with probability proportional to (token share)^alpha;
    alpha < 1 upsamples the tail, alpha = 1 keeps the natural mix).

    Input: the corpus; output: one row per domain (here: language) with
    its token mass, natural share, temperature-scaled target share, and
    the per-document sampling RATE that realizes the target from the
    natural distribution (rate capped at 1 — no upsampling duplication;
    renormalized shares so the target is a distribution).

    All arithmetic is deterministic aggregates over one partial-agg
    shuffle + a broadcast 1-row total — oracle-expressible end to end.
    At 100 TB: domains are few, the heavy input is the token count,
    which is the same single text scan every other curation gate shares.
    """
    toks = docs.groupBy(lang_col).agg(
        F.sum(word_count(F.col(text_col)).cast("long")).alias("domain_tokens")
    )
    total = toks.agg(F.sum("domain_tokens").alias("_total"))
    scaled = (
        toks.crossJoin(F.broadcast(total))
        .withColumn("natural_share", F.col("domain_tokens") / F.col("_total"))
        .withColumn("_scaled", F.pow(F.col("natural_share"), F.lit(alpha)))
    )
    z = scaled.agg(F.sum("_scaled").alias("_z"))
    return (
        scaled.crossJoin(F.broadcast(z))
        .withColumn("target_share", F.col("_scaled") / F.col("_z"))
        .withColumn(
            "sample_rate",
            F.least(F.lit(1.0), F.col("target_share") / F.col("natural_share")),
        )
        .select(
            lang_col,
            "domain_tokens",
            F.round("natural_share", 6).alias("natural_share"),
            F.round("target_share", 6).alias("target_share"),
            F.round("sample_rate", 6).alias("sample_rate"),
        )
    )


def curation_report(docs: DataFrame, curated: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Per-language before/after counts + kept token mass — the summary a
    curation run publishes alongside the output dataset."""
    before = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_docs_in"))
    after = curated.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    return (
        before.join(after, lang_col, "left")
        .na.fill({"n_docs_kept": 0, "tokens_kept": 0})
        .withColumn(
            "keep_rate", F.round(F.col("n_docs_kept") / F.col("n_docs_in"), 4)
        )
    )


def source_scorecard(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    keep_quality: float = 0.7,
    keep_dup_rate: float = 0.2,
    review_quality: float = 0.5,
) -> DataFrame:
    """Per-SOURCE curation scorecard — the table a crawl-inclusion decision
    actually reads: document and token volume, mean composite quality,
    the source's corpus-duplicate rate (fraction of its documents whose
    exact content appears more than once in the WHOLE corpus — a feed
    that mostly re-serves content other sources already provide scores
    high here), language breadth, and a thresholded keep/review/drop
    verdict.

    Shape at 100 TB: quality and token counts are per-row codegen; the
    duplicate flags cost ONE shuffle of 32-byte content digests (per-
    content window, cells are copy-count-sized); the scorecard itself is
    a ~cardinality(source) partial-agg. Verdict thresholds compare
    ROUNDED values so the cut is engine-stable."""
    from crdb_changefeed_publisher_spark.operators.text import quality_score, word_count

    enriched = docs.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        quality_score(F.col(text_col)).alias("q"),
        word_count(F.col(text_col)).alias("nt"),
        F.sha2(F.col(text_col), 256).alias("ck"),
    )
    copies = Window.partitionBy("ck")
    flagged = enriched.withColumn("n_copies", F.count(F.lit(1)).over(copies))
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
        F.round(F.avg(F.when(F.col("n_copies") > 1, 1.0).otherwise(0.0)), 4).alias(
            "dup_rate"
        ),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        "avg_quality",
        "dup_rate",
        "n_langs",
        F.when(
            (F.col("avg_quality") >= keep_quality) & (F.col("dup_rate") <= keep_dup_rate),
            F.lit("keep"),
        )
        .when(F.col("avg_quality") >= review_quality, F.lit("review"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    ).orderBy("source")


def split_leakage_report(
    docs: DataFrame,
    pairs: DataFrame,
    seed: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """EVAL-SET LEAKAGE audit: near-duplicate pairs that CROSS a split
    boundary (a train document nearly identical to a val/test document
    silently inflates eval scores — the leak every split pipeline must
    check for after the fact, because hash_split assigns by id and
    near-dups have different ids).

    `pairs` is any near-dup pair frame (doc_a, doc_b, est_jaccard) —
    at scale, the persisted pair table the dedup pass already built (the
    `_shared:minhash_pairs` artifact), so the audit costs two broadcast-
    sized joins of split labels onto the pair list, never a corpus scan.
    Exact duplicates surface too (est_jaccard 1.0). Output: one row per
    boundary-crossing pair, split names ordered (split_a <= split_b) so
    the report is orientation-stable."""
    labels = hash_split(docs.select(id_col), seed=seed, id_col=id_col).select(
        F.col(id_col).alias("_id"), F.col("split").alias("_split")
    )
    a = labels.select(F.col("_id").alias("doc_a"), F.col("_split").alias("split_a"))
    b = labels.select(F.col("_id").alias("doc_b"), F.col("_split").alias("split_b"))
    crossed = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return crossed.select(
        "doc_a",
        "doc_b",
        lo.alias("split_a"),
        hi.alias("split_b"),
        "est_jaccard",
    ).orderBy("doc_a", "doc_b")


def dsir_importance_weights(
    pool: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    scale_bits: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score every
    candidate document in `pool` by how much its hashed word-bigram bag
    resembles the `target` corpus relative to the pool itself — the
    select-from-the-crawl-what-looks-like-the-curated-set primitive.

    Integer-exact variant of the paper's weights: per hashed bucket b,
    affinity s_b = ((ct_b + 1) << scale_bits) DIV (cp_b + 1) (add-one
    smoothing; ct/cp are target/pool bigram OCCURRENCE counts), and a
    document's score is the integer mean of s_b over its own bigram
    occurrences. 2^scale_bits is the neutral ratio 1.0; documents with no
    bigram features (fewer than 2 words) score exactly neutral. The
    paper's log-likelihood-ratio weights are float sums whose value is
    order- and libm-dependent; the ratio-mean keeps the ranking monotone
    in the same evidence (over-represented-in-target buckets raise it,
    under-represented lower it) while every score is reproducible
    bit-for-bit by a SQL oracle — the repo's integer-dial convention.

    Shape at 100 TB: one shingle pass per side, two partial-agg count
    shuffles that REDUCE to n_buckets rows each, a broadcast of the KB
    weight table onto the pool's gram stream, one per-doc aggregate. No
    training, no iteration, no join wider than the broadcast.

    Output: (doc_id, n_bigrams, score) for EVERY pool document.
    """
    from crdb_changefeed_publisher_spark.functions import phash
    from crdb_changefeed_publisher_spark.operators.dedup import shingle_rows

    neutral = 1 << scale_bits
    tg = shingle_rows(target, text_col, id_col, n=2).select(
        (phash.poly_hash(F.col("shingle")) % n_buckets).cast("int").alias("bucket")
    )
    pg = shingle_rows(pool, text_col, id_col, n=2).select(
        "doc_id",
        (phash.poly_hash(F.col("shingle")) % n_buckets).cast("int").alias("bucket"),
    )
    tc = tg.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    # One pool gram pass, not two (r13): pc and the scoring join both
    # consumed pg, and exchange reuse does not cross the poly_hash Python
    # stage, so the scan + explode + window + hash ran twice. Reduce to
    # per-(doc, bucket) occurrence counts first — exchange-free on top of
    # the shingle window's doc_id partitioning — and lazily checkpoint
    # that (~distinct buckets per doc, the smallest frame in the
    # pipeline); both consumers below read it. sum(cnt) == the old
    # per-occurrence count and sum(s*cnt) == the old per-occurrence
    # sum(s), exact int64 with the same magnitude bound.
    pgc = (
        pg.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    pc = pgc.groupBy("bucket").agg(F.sum("cnt").alias("cp"))
    wt = pc.join(tc, "bucket", "left").selectExpr(
        "bucket",
        f"((coalesce(ct, CAST(0 AS BIGINT)) + 1) * {neutral}) div (cp + 1) AS s",
    )
    scored = (
        pgc.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("s") * F.col("cnt")).alias("sum_s"),
        )
        .selectExpr("doc_id", "n_bigrams", "sum_s div n_bigrams AS score")
    )
    return (
        pool.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("score"), F.lit(neutral)).cast("long").alias("score"),
        )
    )


def dsir_resample_k(
    pool: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 1024,
    scale_bits: int = 20,
    seed: str = "dsir-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR selection end to end: importance weights, then an exact-k
    weighted sample WITHOUT replacement via the Efraimidis-Spirakis race
    (`weighted_sample_k` — the deterministic stand-in for the paper's
    Gumbel-top-k, which is the same algorithm family: seeded noise on a
    monotone transform of the weight, top-k wins). Weight = score + 1 so
    a zero score still races. Output: (doc_id, n_bigrams, score,
    priority), the k selected documents."""
    wts = dsir_importance_weights(
        pool, target, n_buckets=n_buckets, scale_bits=scale_bits,
        text_col=text_col, id_col=id_col,
    )
    return weighted_sample_k(
        wts, k=k, weight=(F.col("score") + 1).cast("double"),
        seed=seed, id_col="doc_id",
    )
