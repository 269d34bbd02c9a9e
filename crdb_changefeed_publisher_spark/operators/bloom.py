"""Portable Bloom-filter semi-join reduction — the scan-side shuffle saver.

At 100 TB the canonical join problem is a huge fact table joined to a key
set that is too big to broadcast as rows but whose MEMBERSHIP fits in
kilobytes: build a Bloom filter over the dim keys (one partial-agg pass to
m/64 longs), broadcast the words as plan literals, and drop fact rows that
cannot match AT THE SCAN — before any exchange, before the join operator
sees them. The final exact join then removes the false positives, so the
composition is row-identical to the plain join while the shuffle carries
only (true matches + fp_rate * misses). Spark's own runtime row-level
filtering does this opportunistically; this operator is the explicit,
engine-portable form — every bit of the filter is reproducible in ANSI SQL
(the KMV-exactness tradition: operators/sketches.py), so the whole
mechanism is value-verifiable, false positives included.

Construction: positions are k affine transforms of the portable 52-bit
sha2 hash (operators/sketches.kmv_hash): pos_i = ((H * a_i + b_i) mod
1e9+7) mod m_bits, with a_i < 2^11 keeping H * a_i < 2^63 — exact int64 on
any engine. Words pack 64 bits each; membership tests are pure codegen
bit arithmetic ((word >> bit) & 1), no UDF anywhere.

Reference scope note: the reference (ducc/crdb-changefeed-publisher) has
no join machinery at all (595-LoC single-table CDC pipe, src/main.rs);
this operator belongs to the north-star analytics surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators.sketches import kmv_hash

BLOOM_MOD = 1_000_000_007
# (a, b) per hash function; a < 2^11 so H * a stays inside int64 for the
# 52-bit portable hash (same pattern as dedup.SIMHASH_COEFFS)
BLOOM_COEFFS = [(2 * i + 3, 7 * i + 1) for i in range(16)]
BLOOM_SEED = "bloom-v1"


def _check_dials(m_bits: int, k: int) -> None:
    if m_bits <= 0 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits={m_bits} must be a power of two")
    if m_bits > 1 << 26:
        raise ValueError(
            f"m_bits={m_bits} > 2^26: the words literal would exceed ~8 MB — "
            "size the filter to the key set, not the corpus"
        )
    if not 1 <= k <= len(BLOOM_COEFFS):
        raise ValueError(f"k={k} outside [1, {len(BLOOM_COEFFS)}]")


def bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a value, as exact-int64 Columns."""
    h = kmv_hash(col, seed=BLOOM_SEED)
    return [
        F.pmod(F.pmod(h * F.lit(a) + F.lit(b), F.lit(BLOOM_MOD)), F.lit(m_bits))
        for a, b in BLOOM_COEFFS[:k]
    ]


def bloom_build_df(df: DataFrame, col: str, m_bits: int = 1 << 13, k: int = 5) -> DataFrame:
    """One aggregation pass over the key side -> the filter as a sparse
    (word_idx, word) DataFrame of packed int64 words — at most m_bits/64
    rows regardless of key count. This is the broadcastable form the
    JOIN probe consumes; `bloom_build` collects it into the dense literal
    list the codegen probe embeds."""
    _check_dials(m_bits, k)
    pos = bloom_positions(F.col(col), m_bits, k)
    masks = F.array(*[F.lit(v) for v in _POW2])
    exploded = df.select(F.explode(F.array(*pos)).alias("pos")).select(
        F.shiftright("pos", 6).alias("word_idx"),
        # mask via the literal table, not a variable shift: DuckDB errors
        # on 1 << 63, so the oracle twin uses the same 64-mask VALUES rows
        F.element_at(masks, (F.pmod(F.col("pos"), F.lit(64)) + 1).cast("int")).alias(
            "mask"
        ),
    )
    return exploded.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_build(df: DataFrame, col: str, m_bits: int = 1 << 13, k: int = 5) -> list[int]:
    """Dense form of `bloom_build_df`: m_bits/64 packed int64 words
    (missing words zero-filled). The collect is bounded by the DIAL
    (m_bits/64 longs — KBs), never the data; at cluster scale this is the
    "build once, broadcast bytes" artifact. Use only at literal-friendly
    sizes (see LITERAL_MAX_BITS) — bigger filters stay a DataFrame and
    probe via the broadcast join."""
    rows = bloom_build_df(df, col, m_bits, k).collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        words[int(r.word_idx)] = int(r.word)
    return words


# 1 << j as int64 two's complement (bit 63 is the sign bit) — a literal
# mask table because neither engine's DataFrame API shifts by a COLUMN
# cheaply in codegen; (word & mask) != 0 is the portable bit probe.
_POW2 = [(1 << j) if j < 63 else (1 << 63) - (1 << 64) for j in range(64)]


def bloom_might_contain(col: Column, words: list[int], k: int) -> Column:
    """Membership test as pure codegen bit arithmetic against the words
    literal array (the broadcast-as-literal form of a KB filter). True for
    every inserted value (no false negatives — same hashes, same words);
    false positives at the standard (1 - e^{-kn/m})^k rate."""
    m_bits = len(words) * 64
    arr = F.array(*[F.lit(w) for w in words])
    return _might_contain_against(col, arr, m_bits, k)


def _might_contain_against(col: Column, words_arr: Column, m_bits: int, k: int) -> Column:
    """Shared probe body: k O(1) element_at lookups + bit masks against a
    words array that is either a plan literal (`bloom_might_contain`) or
    a broadcast one-row COLUMN (`bloom_words_row` — the r13 scale form:
    data, not plan constants, so codegen/analysis cost does not grow with
    the filter)."""
    masks = F.array(*[F.lit(v) for v in _POW2])
    cond = F.lit(True)
    for pos in bloom_positions(col, m_bits, k):
        word = F.element_at(words_arr, (F.shiftright(pos, 6) + 1).cast("int"))
        mask = F.element_at(masks, (F.pmod(pos, F.lit(64)) + 1).cast("int"))
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_words_row(df: DataFrame, col: str, m_bits: int, k: int = 5) -> DataFrame:
    """The filter as ONE dense-array row, for a broadcast nested-loop
    attach to the probe side (the repo's broadcast-of-one-row pattern).
    The collect is bounded by the dial (m_bits/64 longs — 8 MB at the
    2^26 clamp), same contract as `bloom_build`; shipping the words as
    DATA keeps the plan constant-free where the literal form measured
    80 s of codegen at 2^23 bits (see LITERAL_MAX_BITS note)."""
    words = bloom_build(df, col, m_bits, k)
    spark = df.sparkSession
    return spark.createDataFrame([(words,)], "_bloom_words array<long>")


# Above this size a literal words array stops being a reasonable plan
# constant (codegen and analysis cost grow with the literal; measured: a
# 2^23-bit filter as 131k literals made the sf1 spec 80 s) — larger
# filters stay a (word_idx, word) DataFrame and probe via broadcast join.
LITERAL_MAX_BITS = 1 << 16


def bloom_pass_flags_join(
    keys_df: DataFrame,
    key_col: str,
    words_df: DataFrame,
    m_bits: int,
    k: int = 5,
) -> DataFrame:
    """Membership via BROADCAST JOIN against the sparse words table — the
    scale path when the filter outgrows plan literals (a 2^23-bit filter
    is 1 MB: trivially broadcastable, hopeless as codegen constants).
    Returns (key_col, _pass int). Each key explodes into its k
    (word_idx, mask) probes, left-joins the broadcast words, and passes
    iff every probe hits — same bits, same answer as the literal probe."""
    masks = F.array(*[F.lit(v) for v in _POW2])
    probes = keys_df.select(
        F.col(key_col),
        F.explode(F.array(*bloom_positions(F.col(key_col), m_bits, k))).alias("pos"),
    ).select(
        key_col,
        F.shiftright("pos", 6).alias("word_idx"),
        F.element_at(masks, (F.pmod(F.col("pos"), F.lit(64)) + 1).cast("int")).alias(
            "mask"
        ),
    )
    hit = (
        F.col("word").isNotNull() & (F.col("word").bitwiseAND(F.col("mask")) != 0)
    ).cast("int")
    return (
        probes.join(F.broadcast(words_df), "word_idx", "left")
        .select(key_col, hit.alias("_hit"))
        .groupBy(key_col)
        .agg(F.min("_hit").alias("_pass"))
    )


def bloom_m_bits_for(n_keys: int, bits_per_key: int = 16, lo: int = 10, hi: int = 26) -> int:
    """Executable sizing rule: the smallest power of two >= n_keys *
    bits_per_key (16 bits/key with k=5 gives ~3.6e-4 fp — the classic
    m = nk/ln2 region), clamped to [2^lo, 2^hi]. INTEGER arithmetic so a
    SQL oracle derives the identical m from COUNT(*) (same convention as
    srp_bits_for / banding_chunk_bits_for)."""
    p = lo
    while p < hi and (1 << p) < n_keys * bits_per_key:
        p += 1
    return 1 << p


def bloom_semijoin_stats(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    group_col: str,
    m_bits: int | None = None,
    k: int = 5,
) -> DataFrame:
    """The VERIFICATION view of the Bloom reduction: per `group_col`,
    (n_rows, n_bloom_pass, n_true_match, n_false_pos) — how many fact
    rows the KB filter admits vs how many actually join. n_false_pos is
    the shuffle volume the filter failed to save; n_rows - n_bloom_pass
    is the volume it DID save. Every number (false positives included) is
    deterministic and SQL-reproducible: the filter is exact int64
    arithmetic end to end.

    m_bits defaults to `bloom_m_bits_for(distinct key count)` — the
    self-sizing dial. Membership is evaluated per DISTINCT big key, then
    joined back (probes are key-functional; at 100 TB the distinct-key
    frame is the cheap side and the fact scan only pays an equi-join).
    Probe vehicle follows the filter size: codegen literals while the
    words fit a plan constant, broadcast join above LITERAL_MAX_BITS."""
    # ONE evaluation of the distinct-key frame (r13, guide §5): it feeds
    # the sizing count, the filter-build collect AND the truth broadcast —
    # without a cut each consumer re-runs the small-side scan + distinct
    # exchange. Lazy localCheckpoint: the first action (the count below,
    # or the build collect when m_bits is given) materializes it, the
    # rest reuse. Key-set-sized by contract — the "build once, broadcast
    # bytes" artifact the docstring already names.
    keys = (
        small.select(F.col(small_key).alias(big_key))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if m_bits is None:
        m_bits = bloom_m_bits_for(keys.count())
    truth = keys.withColumn("_match", F.lit(1))
    if m_bits <= LITERAL_MAX_BITS:
        # Literal filter: evaluate _pass directly on the fact scan (r13) —
        # the probe is k codegen hash+mask ops per row, cheaper than the
        # distinct-fact-keys exchange + join-back it replaced (the
        # registered row's own doc promises "drops ... AT THE SCAN"; the
        # join-back vehicle only pays for itself on the broadcast-join
        # path below, where per-row probing would fan out k word rows).
        words = bloom_build(keys, big_key, m_bits, k)
        flagged = big.select(group_col, big_key).withColumn(
            "_pass", bloom_might_contain(F.col(big_key), words, k).cast("int")
        )
    else:
        # Past the literal cap the words ride as ONE dense-array row,
        # broadcast-nested-loop-attached to the fact scan, and every row
        # probes with k O(1) element_at lookups (r13) — replacing the
        # distinct-fact-keys exchange + k-way probe explode + broadcast
        # join + per-key min-agg + join-back of the old vehicle. Same
        # bits, same answer; the collect is dial-bounded (bloom_build's
        # contract), never data-sized.
        words_row = bloom_words_row(keys, big_key, m_bits, k)
        flagged = (
            big.select(group_col, big_key)
            .crossJoin(F.broadcast(words_row))
            .withColumn(
                "_pass",
                _might_contain_against(
                    F.col(big_key), F.col("_bloom_words"), m_bits, k
                ).cast("int"),
            )
            .drop("_bloom_words")
        )
    flagged = flagged.join(F.broadcast(truth), big_key, "left")
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_pass").cast("long").alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("_match"), F.lit(0))).cast("long").alias("n_true_match"),
        F.sum(
            F.when((F.col("_pass") == 1) & F.col("_match").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
    )


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int | None = None,
    k: int = 5,
) -> DataFrame:
    """Semi-join `big` to `small` with a Bloom pre-filter on the big side:
    rows failing the KB filter never reach the join. Row-identical to
    `big.join(small, key, 'left_semi')` — no false negatives by
    construction, and the exact semi join removes the false positives.
    m_bits defaults to the self-sizing rule over the distinct key count;
    filters above LITERAL_MAX_BITS probe via a broadcast join of the
    distinct fact keys instead of scan-side literals."""
    keys = small.select(F.col(small_key).alias(big_key)).distinct()
    if m_bits is None:
        m_bits = bloom_m_bits_for(keys.count())
    if m_bits <= LITERAL_MAX_BITS:
        words = bloom_build(keys, big_key, m_bits, k)
        passed = big.filter(bloom_might_contain(F.col(big_key), words, k))
    else:
        words_df = bloom_build_df(keys, big_key, m_bits, k)
        flags = bloom_pass_flags_join(
            big.select(big_key).distinct(), big_key, words_df, m_bits, k
        ).filter(F.col("_pass") == 1)
        passed = big.join(flags.select(big_key), big_key)  # AQE sizes the join
    return passed.join(keys, big_key, "left_semi")
