"""Text analysis operators for training-data pipelines: tokenization stats,
quality scoring, language ID, and document fingerprinting.

Everything is built-in column expressions (no Python in the hot path), so the
operators scale linearly: a 100 TB documents table maps straight through the
scan with zero shuffles (all per-row), and downstream aggregates shuffle once.

Marker-word counting uses the replace-length trick
(``(len(s) - len(replace(s, m, ''))) / len(m)``) instead of regexp so the
exact same arithmetic runs on any SQL oracle engine.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Matching is on space-padded whole words.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "und", "die", "ist"],
    "fr": ["le", "et", "les", "est"],
    "es": ["el", "los", "que", "es"],
    "zh": ["de", "shi", "le", "zai"],
}

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def count_occurrences(text: Column, needle: str) -> Column:
    """Number of occurrences of `needle` via the portable replace-length trick."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(needle)


def word_count(text: Column) -> Column:
    """Whitespace token count (single-space separated after trim)."""
    return F.size(F.split(F.trim(text), " "))


def marker_score(text: Column, markers: list[str]) -> Column:
    """Total space-padded marker-word occurrences in the text."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    score: Column = F.lit(0.0)
    for m in markers:
        score = score + count_occurrences(padded, f" {m} ")
    return score


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-lexicon hit counts, 'und' when
    no lexicon fires. Deterministic tiebreak: alphabetically first language
    wins (fold in sorted order, strictly-greater replaces)."""
    best = F.lit("und")
    best_score = F.lit(0.0)
    for code in sorted(LANG_MARKERS):
        s = marker_score(text, LANG_MARKERS[code])
        best = F.when(s > best_score, F.lit(code)).otherwise(best)
        best_score = F.greatest(s, best_score)
    return best


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + word-length sanity +
    punctuation-density penalty. All portable arithmetic."""
    n_chars = F.length(text)
    n_words = word_count(text)
    avg_word_len = (F.length(F.replace(F.trim(text), F.lit(" "), F.lit(""))) / n_words).cast(
        "double"
    )
    punct = count_occurrences(text, ".") + count_occurrences(text, ",")
    length_term = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_len_term = F.when((avg_word_len >= 3) & (avg_word_len <= 10), 1.0).otherwise(0.5)
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - punct / F.greatest(n_words, F.lit(1)))
    return F.round(0.4 * length_term + 0.3 * word_len_term + 0.3 * punct_term, 4)


MAX_FINGERPRINT_LEN = 4096
# 31^k mod p precomputed exactly in Python; shipped as one array literal so
# the whole fingerprint stays in codegen (a sequential fold via F.aggregate
# is interpreted per character: measured ~50x slower).
_POWERS = [pow(FINGERPRINT_BASE, k, FINGERPRINT_MOD) for k in range(MAX_FINGERPRINT_LEN)]


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the document characters:
    ``h = (h*31 + ascii(ch)) mod 1e9+7``, computed in closed form as
    ``sum(ascii(c_i) * 31^(n-i) mod p) mod p`` with a precomputed modular
    power table — pure built-in expressions, no interpreted fold.

    Each term < p ~ 2^30 and docs are capped at MAX_FINGERPRINT_LEN chars,
    so the partial sum stays far below 2^63. Engine-portable: any SQL with
    list lambdas expresses the equivalent left fold (same value mod p).
    """
    powers = F.array(*[F.lit(p) for p in _POWERS])
    chars = F.split(F.substring(text, 1, MAX_FINGERPRINT_LEN), "")
    n = F.size(chars)
    # chars[i] pairs with 31^(n-1-i): reverse(slice(powers, 1, n)).
    contrib = F.zip_with(
        chars,
        F.reverse(F.slice(powers, 1, n.cast("int"))),
        lambda c, pw: (F.ascii(c).cast("long") * pw) % FINGERPRINT_MOD,
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, x: acc + x) % FINGERPRINT_MOD


def bigram_nll(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Perplexity-proxy quality score: mean negative log-likelihood of the
    document's word bigrams under the corpus unigram-of-bigrams model,
    ``nll = avg(-ln(count(bigram)/total_bigrams))``. Boilerplate/templated
    text scores LOW (predictable), rare/garbled text scores HIGH — the
    standard cheap stand-in for model-based perplexity filtering.

    Scale shape: explode bigrams (narrow) -> count per bigram (one partial-
    agg shuffle) -> rejoin counts to occurrences (shuffle on the bigram) ->
    per-doc aggregate. The corpus-total is a 1-row broadcast (scalar-
    subquery shape). All arithmetic portable; rounded to 4.
    """
    from crdb_changefeed_publisher_spark.operators.dedup import shingle_rows

    bi = shingle_rows(docs, text_col=text_col, id_col=id_col, n=2)
    counts = bi.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    return (
        bi.join(counts, "shingle")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias("nll"))
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization step of an LLM training pipeline (context packing /
    long-doc splitting). Output: (doc_id, chunk_idx, chunk_text, n_tokens).

    Pure built-in expressions: tokenize once, generate window starts with
    ``sequence`` (step = stride), explode, slice the token array per chunk.
    Zero Python, zero shuffle — 100 TB of documents streams through the
    scan; chunk fan-out is (n_tokens/stride)x rows of mostly-short strings.
    A trailing window shorter than `stride` is not emitted separately (the
    last start is the largest multiple of stride < n_tokens).
    """
    words = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(words)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    df = docs.select(
        F.col(id_col).alias("doc_id"),
        words.alias("_w"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    ).filter(F.col("_start") < F.size("_w"))
    chunk = F.slice(F.col("_w"), F.col("_start") + 1, window)
    return df.select(
        "doc_id",
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-split SEQUENCE PACKING — the standard layout step of an
    LLM pretraining pipeline: documents are laid end to end in a
    deterministic global order (ascending `id_col`) and the token stream
    is cut every `capacity` tokens. Each document is assigned the bin
    where it STARTS and its token offset within that bin; a document whose
    tokens cross a cut spans into the next bin (`spans_bins`).

    Output: (doc_id, n_tokens, bin_id, offset_in_bin, spans_bins).

    Scale shape: the global exclusive cumulative token sum is computed
    TWO-PHASE like functions/ranks.py — range-partition on the order key,
    partition-local running sum, then offset by the broadcast
    per-partition totals (num_partitions rows). A naive
    ``sum().over(Window.orderBy(...))`` would move 100 TB of documents
    into one task; here the only unpartitioned window is over the tiny
    per-partition stats frame. Deterministic, so the packing is
    reproducible across runs/restarts (resumable shard builds).
    """
    n_tok = word_count(F.col(text_col)).cast("long")
    base = docs.select(F.col(id_col).alias("doc_id"), n_tok.alias("n_tokens"))
    parted = base.repartitionByRange("doc_id").withColumn("_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("_pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn("_cum", F.sum("n_tokens").over(w_local))
    stats = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_n"))
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.withColumn("_off", F.coalesce(F.sum("_n").over(w_cum), F.lit(0)))
    excl = F.col("_off") + F.col("_cum") - F.col("n_tokens")
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(excl / capacity).cast("long").alias("bin_id"),
            (excl % capacity).cast("long").alias("offset_in_bin"),
            ((excl % capacity) + F.col("n_tokens") > capacity).alias("spans_bins"),
        )
    )


# PII patterns: the portable RE2-and-Java-regex subset (no lookaround, no
# backreferences), so the exact same patterns run on Spark (Java regex) and
# any RE2-based oracle (DuckDB). Heuristics, not a compliance claim — the
# operator's job is the Spark-side shape (global redaction + counts in one
# per-row codegen pass); production pipelines swap in their own pattern set.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,2}[ -]\d{3}[ -]\d{4}",
}


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII detection + redaction — the scrubbing gate of a training-data
    pipeline: count matches per pattern class and replace each match with a
    ``<CLASS>`` placeholder. Output: (doc_id, n_email, n_ipv4, n_phone,
    n_pii, clean_text, redacted_len).

    Redaction order is the sorted pattern-class name (email, ipv4, phone),
    so overlapping matches resolve deterministically (an IP inside an
    already-redacted email can't double-fire). Everything is per-row
    built-in regexp codegen: a 100 TB corpus maps straight through the scan
    with zero shuffles, and the counts aggregate partially downstream."""
    t = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS.items()
    }
    clean = t
    for name in sorted(PII_PATTERNS):
        clean = F.regexp_replace(clean, PII_PATTERNS[name], f"<{name.upper()}>")
    total = None
    for name in sorted(counts):
        total = counts[name] if total is None else total + counts[name]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[counts[name].alias(f"n_{name}") for name in sorted(counts)],
        total.alias("n_pii"),
        clean.alias("clean_text"),
        F.length(clean).alias("redacted_len"),
    )


# Gopher-inspired repetition-filter thresholds (Rae et al. 2021, table A1
# shape): a document is flagged `repetitive` when any signal exceeds its
# threshold. Tuned constants are public-paper-order-of-magnitude, not claims
# of exact parity with any production filter.
REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_word_frac": 0.30,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
}


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document REPETITION signals — the Gopher-style quality gate
    that catches boilerplate/templated/looping text which length and
    punctuation heuristics miss:

    - ``dup_word_frac``      1 - distinct_words / total_words
    - ``top{2,3,4}_char_frac`` fraction of characters covered by the single
      most frequent word-n-gram (count x gram_chars / doc_chars, capped at
      1; ties broken by lexicographically-smallest gram; 0 unless the top
      gram actually repeats — a count-1 gram is not repetition)
    - ``dup5_char_frac``     fraction of characters covered by ALL repeated
      word-5-grams (sum over grams with count >= 2 of count x gram_chars /
      doc_chars, capped at 1 — overlapping occurrences intentionally
      double-count before the cap; this is a filter signal, not a measure)
    - ``repetitive``         any signal above REPETITION_THRESHOLDS

    Scale shape: ONE scan of the documents table explodes to word rows
    (posexplode), then all five gram sizes come from window `lead`s over
    (doc_id, word position) unpivoted with `stack` — every expression is
    whole-stage codegen (no interpreted higher-order lambdas, no per-gram
    array copies), and the window shuffle spreads even a single input file
    across the cluster. One partial-agg shuffle on (doc_id, n, gram); the
    per-(doc, n) top gram is a `min(struct(-count, gram))` aggregate
    (count desc, gram asc by struct ordering) — no rank window, no extra
    sort. Gram strings stay as shuffle keys (not content hashes) because
    the deterministic tiebreak and gram length are part of the contract;
    the volume is the same doc-local n-grams the decontamination pass
    already moves.
    """
    from crdb_changefeed_publisher_spark.tables import fan_out_scan

    # Fan out BEFORE the posexplode (r13): the window's doc_id exchange
    # moves to the scan side, so the split+explode runs at session width
    # instead of the scan's (one task on a single-row-group fixture file)
    # and the exchange carries whole texts instead of word rows. Exchange
    # count unchanged. always=True because the window needs this exchange
    # whatever the input width: the byte-sized width would narrow it.
    words = fan_out_scan(docs.select(id_col, text_col), id_col, always=True).select(
        F.col(id_col).alias("doc_id"),
        F.length(F.trim(F.col(text_col))).alias("n_chars"),
        F.posexplode(F.split(F.trim(F.col(text_col)), " ")).alias("pos", "w0"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = words.select(
        "doc_id",
        "n_chars",
        "w0",
        *[F.lead("w0", k).over(win).alias(f"w{k}") for k in (1, 2, 3, 4)],
    )
    # unpivot to (n, gram); a gram exists iff its last word does (concat_ws
    # would silently skip NULLs and emit a shorter gram, hence the guards)
    gram_cols = []
    for n in (1, 2, 3, 4, 5):
        g = F.concat_ws(" ", *[F.col(f"w{k}") for k in range(n)])
        guard = F.lit(True) if n == 1 else F.col(f"w{n-1}").isNotNull()
        gram_cols.extend([F.lit(n), F.when(guard, g)])
    grams = (
        leads.select(
            "doc_id", "n_chars", F.stack(F.lit(5), *gram_cols).alias("n", "g")
        )
        .filter(F.col("g").isNotNull())
    )

    counts = grams.groupBy("doc_id", "n", "g").agg(
        F.max("n_chars").alias("n_chars"), F.count(F.lit(1)).alias("c")
    )
    per_n = (
        counts.groupBy("doc_id", "n")
        .agg(
            F.max("n_chars").alias("n_chars"),
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("n_distinct"),
            # struct min = (count desc, gram asc); only repeated grams count
            F.min(
                F.when(
                    F.col("c") >= 2,
                    F.struct((-F.col("c")).alias("nc"), F.col("g").alias("g")),
                )
            ).alias("top"),
            F.sum(F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(0)).alias(
                "dup_cov"
            ),
        )
        .withColumn("top_cov", (-F.col("top.nc")) * F.length("top.g"))
        .drop("top")
    )

    def frac(n: int, cov_col: str) -> Column:
        # greatest(n_chars, 1): an empty/whitespace doc has 0 chars and no
        # repeated grams — its signals are 0, not NULL (both sides guard)
        cov = F.max(F.when(F.col("n") == n, F.col(cov_col)))
        return F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(cov, F.lit(0)) / F.greatest(F.max("n_chars"), F.lit(1)),
            ),
            4,
        )

    out = per_n.groupBy("doc_id").agg(
        F.round(
            F.lit(1.0)
            - F.max(F.when(F.col("n") == 1, F.col("n_distinct")))
            / F.max(F.when(F.col("n") == 1, F.col("total"))),
            4,
        ).alias("dup_word_frac"),
        frac(2, "top_cov").alias("top2_char_frac"),
        frac(3, "top_cov").alias("top3_char_frac"),
        frac(4, "top_cov").alias("top4_char_frac"),
        frac(5, "dup_cov").alias("dup5_char_frac"),
    )
    flag = F.lit(False)
    for col, thr in REPETITION_THRESHOLDS.items():
        flag = flag | (F.col(col) > thr)
    return out.withColumn("repetitive", flag)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by TF-IDF (``tf * ln(n_docs / df)``,
    raw term counts, no sublinear scaling — the portable textbook form).

    Shapes: one explode + partial-agg count for per-(doc, term) tf; one
    partial-agg distinct-doc count per term for df (shuffle key is the
    term, values pre-reduced map-side); n_docs is a 1-row broadcast;
    ranking is a per-doc window (partitioned — no global window) with
    round-then-(term)-tiebreak so the top-k set is deterministic on any
    engine. IDF uses n_docs/df unsmoothed: every df <= n_docs here, and
    the oracle replays ln() bit-for-bit.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents for a bag-of-words query.

    ``score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |d|/avgdl))``
    with the standard smoothed idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``.

    Shapes: the query is a HANDFUL of terms, so the per-(doc, term) tf
    frame filters to query terms BEFORE any shuffle (predicate on the
    exploded stream — at 100 TB this is the difference between indexing
    the corpus and scoring a query); doc lengths are one partial agg;
    (N, avgdl, df per query term) are broadcast-sized. Scores round to 6
    with an id tiebreak for a deterministic top-k on any engine.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("term"),
    )
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qw = words.filter(F.col("term").isin(query_terms))
    tf = qw.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = qw.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def boilerplate_report(
    docs: DataFrame,
    min_docs: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate detection (the C4-style curation gate): a sentence is
    boilerplate when its normalized form appears in >= `min_docs` DISTINCT
    documents (license headers, nav text, templated intros). Output: one
    row per document — sentence count, boilerplate-sentence count, and
    the boilerplate fraction a curation pipeline thresholds on.

    Shapes: one explode on '. ' + lowercase/trim normalize; the
    distinct-doc count per sentence groups on sha2 of the sentence (the
    32-byte-key trick — at 100 TB the shuffle carries hashes, not
    sentences); the flagged set joins back by the same hash. Two
    partial-agg shuffles + one equi-join, nothing quadratic.
    """
    sent = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\\. ")).alias("_s"),
    ).select(
        "doc_id", F.unhex(F.sha2(F.lower(F.trim(F.col("_s"))), 256)).alias("_sk")
    )
    hot = (
        sent.select("doc_id", "_sk")
        .distinct()
        .groupBy("_sk")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_sk", F.lit(1).alias("_hot"))
    )
    return (
        sent.join(hot, "_sk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.coalesce(F.col("_hot"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_sentences",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_sentences"), 4).alias("boiler_frac"),
        )
    )


def token_vocab(
    docs: DataFrame, top_v: int = 100, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-prep VOCABULARY build: the top-`top_v` corpus words by
    frequency with their global rank and CUMULATIVE corpus coverage
    (what fraction of all token occurrences the vocabulary up to this rank
    explains — the curve that picks a vocab size).

    Scale shape: explode + one partial-agg shuffle for the counts; the
    global frequency rank uses the TWO-PHASE rank (functions/ranks.py —
    range partition, local rank, broadcast offsets), never a
    single-partition window over the vocabulary; the corpus-total is a
    1-row broadcast. Only the final cumulative sum runs in one partition —
    over exactly `top_v` surviving rows, which is the output, not the data.
    """
    from crdb_changefeed_publisher_spark.functions.ranks import global_rank

    counts = (
        docs.select(F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = counts.agg(F.sum("n_occurrences").alias("_t"))
    ranked = global_rank(
        counts,
        [F.col("n_occurrences").desc(), F.col("word").asc()],
        ["n_occurrences", "word"],
        kind="row_number",
        out="rnk",
    ).filter(F.col("rnk") <= top_v)
    w_cum = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "coverage", F.round(F.sum("n_occurrences").over(w_cum) / F.col("_t"), 6)
        )
        .select("word", "n_occurrences", "rnk", "coverage")
    )


def benchmark_contamination(
    docs: DataFrame,
    n: int = 8,
    bench_mod: int = 97,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark DECONTAMINATION check: per-document overlap of distinct
    word-`n`-grams with the n-gram set of a benchmark corpus (here a
    deterministic subset, doc_id % `bench_mod` == 0 — in production, the
    held-out eval sets).

    Shape at 100 TB: the benchmark n-gram set is tiny by contract (eval
    suites are MBs, the corpus is TBs), so it BROADCASTS; the corpus side
    explodes to distinct per-doc grams and left-joins the broadcast set —
    per-doc partial aggregation, no corpus-side shuffle beyond the per-doc
    groupBy. Output: one row per document with >= 1 n-gram: gram counts,
    contaminated-gram count, contamination ratio, and a `clean` flag.

    Gram construction (mirrored exactly by the SQL oracle): split on single
    spaces after trim; documents shorter than `n` words produce no grams
    and are excluded (they cannot be contaminated at this n).

    The distinct/join run on sha2-256 of each gram, not the gram string:
    the per-doc distinct shuffle and the broadcast benchmark set carry
    32-byte keys instead of ~8-word strings (the gram text is never needed
    downstream — only counts). Same content-address collision contract as
    exact dedup (~2^-128); the oracle still compares gram strings."""
    from crdb_changefeed_publisher_spark.tables import fan_out_scan

    w = F.split(F.trim(F.col(text_col)), " ")
    idxs = F.when(F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        # One exchange, not two (r13): hash-partitioning by doc_id alone
        # satisfies the (doc_id, gk) distinct AND the final per-doc
        # aggregate (partitioning exprs are a subset of both grouping
        # keys), so the dedup and the report agg run exchange-free on top
        # of this single shuffle. The exchange sits BEFORE the gram
        # explode + sha2 (r13 follow-up, guide §2.3): it then carries
        # whole texts (~1x corpus bytes) instead of exploded gram rows,
        # and the explode + sha2 — the expensive narrow work — runs at
        # the exchange's width instead of the scan's (a single-row-group
        # fixture file is ONE task). fan_out_scan(always=True) keeps the
        # count explicit so AQE cannot coalesce the small fixture to one
        # partition, and never narrows a production-scale scan.
        fan_out_scan(docs.select(id_col, text_col), id_col, always=True)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.transform(idxs, lambda i: F.array_join(F.slice(w, i, n), " "))
            ).alias("g"),
        )
        .select("doc_id", F.unhex(F.sha2(F.col("g"), 256)).alias("gk"))
        .distinct()
    )
    bench = grams.filter(F.col("doc_id") % bench_mod == 0).select("gk").distinct()
    joined = grams.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "gk", "left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias("contamination"),
            (F.col("n_contaminated") == 0).alias("clean"),
        )
    )


def duplicate_span_report(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-SPAN mass per document — the document-level
    signal of exact-substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"), at word-n-gram
    granularity: a span is duplicated when the same n consecutive words
    appear in at least one OTHER document. Emits, per document with >= n
    words: distinct-gram count, duplicated-gram count, the duplicated
    fraction, and a `mostly_duplicated` flag (fraction >= `threshold`) —
    the rows a curation pass drops or rewrites.

    Word n-grams at stride 1 are the alignment-invariant alternative to
    fixed character windows: any duplicated word run of >= n words is
    caught wherever it starts in either document (character windows at
    stride > 1 miss differently-aligned copies; the suffix-array approach
    of the paper needs a global sort no engine gives us for free).

    Shape at 100 TB: gram construction mirrors benchmark_contamination
    (split on single spaces after trim; < n words -> no rows); grams
    shuffle ONCE as 32-byte sha2 keys for the per-gram document-frequency
    window (cells are per-gram, tiny), then ONCE by doc_id for the report
    aggregate. No join, no second scan of the text, nothing driver-side —
    unlike boilerplate_report (sentence granularity, >= 10-doc threshold)
    this flags ANY cross-document n-word repetition."""
    from crdb_changefeed_publisher_spark.tables import fan_out_scan

    w = F.split(F.trim(F.col(text_col)), " ")
    idxs = F.when(F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        # Conditional fan-out (r13): the needed exchange here is by gk —
        # derived from the gram, so it cannot move ahead of the explode
        # the way contamination's doc_id exchange can. On a narrow scan
        # the fan-out pays one extra text-sized exchange to run the
        # explode + sha2 at session width; on a production-width scan it
        # is a no-op and the shape below is unchanged.
        fan_out_scan(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.transform(idxs, lambda i: F.array_join(F.slice(w, i, n), " "))
            ).alias("g"),
        )
        .select("doc_id", F.unhex(F.sha2(F.col("g"), 256)).alias("gk"))
        # One exchange for dedup + doc-frequency window (r13): partitioning
        # by gk alone satisfies both the (doc_id, gk) distinct (subset of
        # the grouping keys) and the per-gram window below, so only the
        # final per-doc aggregate pays a second shuffle — 3 exchanges -> 2.
        .repartition(F.col("gk"))
        .distinct()
    )
    # distinct (doc, gram) rows make count-over-gram == document frequency
    doc_freq = Window.partitionBy("gk")
    flagged = grams.withColumn("n_docs", F.count(F.lit(1)).over(doc_freq))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_dup").cast("long").alias("n_dup_grams"),
            F.round(F.col("n_dup") / F.col("n_grams"), 4).alias("dup_fraction"),
            ((F.col("n_dup") / F.col("n_grams")) >= threshold).alias("mostly_duplicated"),
        )
    )


def hashed_ngram_classifier(
    docs: DataFrame,
    weights_int: dict[int, int],
    w_dup_int: int,
    bias_int: int,
    n_buckets: int = 2048,
    scale: int = 1 << 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a frozen hashed char-3-gram LINEAR classifier (the fastText
    shape; weights from tools/train_textclf.py, which distills the
    5-signal Gopher repetition gate into this one-scan student): per
    document, margin_int = sum_g W[bucket(g)] + w_dup*(n_grams -
    n_distinct) + bias*n_grams, all EXACT int64 — order-independent, so
    the decision boundary is engine-exact, unlike a float dot product.

    bucket(g) is the portable poly fold ``((c0*31 + c1)*31 + c2) mod
    1e9+7 mod n_buckets`` on codepoints — for 3 chars no intermediate
    exceeds the modulus, so one trailing mod equals the stepwise fold,
    and the whole bucket expression is JVM codegen (no Python worker in
    the hot path; contrast poly_hash's pandas_udf, which earns its Python
    trip on arbitrary-length shingles).

    Plan shape: one explode of char positions, a broadcast left join onto
    the KB-sized weight table, one doc-keyed partial-agg shuffle
    (count / countDistinct / sum). At 100 TB the per-doc cost is linear
    in characters and the only shuffle is the per-doc aggregate — the
    cheap gate a full-corpus ingest can afford on every document.

    Documents shorter than 3 chars after trim carry no grams and are
    excluded (same WHERE on the oracle side)."""
    spark = docs.sparkSession
    w_rows = sorted(weights_int.items())
    wdf = spark.createDataFrame(w_rows, "bucket int, w long")
    t = F.lower(F.trim(F.col(text_col)))
    base = docs.select(F.col(id_col), t.alias("_t")).filter(F.length("_t") >= 3)
    grams = (
        base.select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.length("_t") - 2)).alias("_i"),
            F.col("_t"),
        )
        .select(id_col, F.col("_t").substr(F.col("_i"), F.lit(3)).alias("g"))
    )
    c = [
        F.ascii(F.col("g").substr(F.lit(k), F.lit(1))).cast("long") for k in (1, 2, 3)
    ]
    bucket = ((c[0] * 31 + c[1]) * 31 + c[2]) % F.lit(1_000_000_007) % F.lit(n_buckets)
    hb = grams.withColumn("bucket", bucket.cast("int"))
    per = (
        hb.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("g").alias("n_distinct"),
            F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("_sw"),
        )
    )
    margin = (
        F.col("_sw")
        + F.lit(int(w_dup_int)) * (F.col("n_grams") - F.col("n_distinct"))
        + F.lit(int(bias_int)) * F.col("n_grams")
    )
    return per.select(
        id_col,
        "n_grams",
        "n_distinct",
        margin.alias("margin_int"),
        F.round(margin / (F.col("n_grams") * F.lit(int(scale))), 6).alias("score"),
        (margin > 0).alias("repetitive_pred"),
    )


def exact_substring_excise(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", §4.1) at word-n-gram
    granularity: REWRITE each document with every duplicated span
    excised, not just flagged (`duplicate_span_report` is the detect-only
    sibling). A word position is removed when ANY n-word run covering it
    occurs at least `min_count` times in the corpus — counting ALL
    occurrences, within-document repeats included, so self-plagiarized
    boilerplate is excised too. Overlapping duplicated runs merge into
    maximal spans for free (coverage is per-position). Emits per document:
    word count, removed-word count, removed fraction, and the excised
    `kept_text` (every document survives, possibly empty).

    Spark shape (all JVM codegen, no HOF gram builds — the
    doc_repetition_signals 16.4 s lesson): posexplode words once, build
    each position's gram with `lead` windows, count occurrences with ONE
    window over 32-byte sha2 gram digests — tail positions that start no
    gram get a per-row surrogate digest so the NULL key can never
    concentrate (n-1) rows per document into one skewed partition — then
    one coverage window (`max` over the trailing n-1 starts) and one
    per-doc aggregate that reassembles kept words by position. Three
    exchanges total (doc, digest, doc), each linear in corpus word count;
    the final groupBy reuses the coverage window's doc partitioning.

    At 100 TB this is the scalable form of the paper's suffix-array
    pass: no global sort, no join, gram keys shuffle as fixed 32-byte
    digests, and per-doc state is bounded by document length."""
    keyed = _positional_grams(docs, n, text_col, id_col)
    occ = F.count(F.lit(1)).over(Window.partitionBy("gk"))
    flagged = keyed.withColumn(
        "dup_start",
        (F.col("has_gram") & (occ >= min_count)).cast("int"),
    )
    return _excise_covered(flagged, n)


def _positional_grams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, pos, word, gk, has_gram): every word position with the
    32-byte sha2 digest of the n-gram STARTING there. Tail positions
    that start no gram get a per-row surrogate digest, so a downstream
    count window or join key can never concentrate the (n-1)-per-doc
    gram-less rows into one NULL-key skew partition. Shared base of the
    excision family (exact_substring_excise / contaminated_span_excise)."""
    from crdb_changefeed_publisher_spark.tables import fan_out_scan

    w = F.split(F.trim(F.col(text_col)), " ")
    # Fan out BEFORE the posexplode (r13): the by_doc window's exchange
    # moves to the scan side — split+explode+gram build run at session
    # width (one task on a single-row-group fixture file otherwise), the
    # exchange carries texts instead of word rows, count unchanged.
    rows = fan_out_scan(docs.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(w).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.when(
        F.lead("word", n - 1).over(by_doc).isNotNull(),
        F.concat_ws(
            " ", F.col("word"),
            *[F.lead("word", k).over(by_doc) for k in range(1, n)]),
    )
    return rows.select(
        "doc_id", "pos", "word",
        F.coalesce(
            F.unhex(F.sha2(gram, 256)),
            F.unhex(F.sha2(F.concat_ws(
                ":", F.lit("exsub-tail"), F.col("doc_id"), F.col("pos")), 256)),
        ).alias("gk"),
        gram.isNotNull().alias("has_gram"),
    )


def _excise_covered(flagged: DataFrame, n: int) -> DataFrame:
    """Coverage + rebuild shared by the excision family: input rows
    (doc_id, pos, word, dup_start int) where dup_start marks positions
    STARTING a span to remove; a position is excised when any of the
    trailing n-1 starts (or its own) fired. One doc-keyed window; the
    final groupBy reuses its partitioning."""
    covered = F.max("dup_start").over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(n - 1), 0)
    )
    cov = flagged.withColumn("covered", covered)
    return (
        cov.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("covered").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("covered") == 0,
                               F.struct("pos", "word")))),
                    lambda x: x["word"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_removed").cast("long").alias("n_removed_words"),
            F.round(F.col("n_removed") / F.col("n_words"), 4).alias(
                "removed_fraction"),
            "kept_text",
        )
    )


def _gram_digest_stream(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """One column of 32-byte sha256 digests — one row per n-gram start
    position, ALL occurrences (within-document repeats included), no doc
    keys, no positions. hashlib.sha256 over the same space-joined gram
    bytes == Spark's unhex(sha2(gram, 256)) in _positional_grams, so the
    two builders agree digest-for-digest (pinned by the sliced==one-shot
    equality test).

    Exists for the SLICED excision's counting pass: building grams with
    the lead-window form costs a full-rowset exchange on doc_id before a
    single gram is counted — the ~50 GB that makes the one-shot form
    disk-bound at 5M docs on one box. Arrow-batched Python pays CPU
    (sha256 per gram) to make the counting pass exchange 32-byte digests
    ONLY — the deliberate CPU-for-disk trade of the big-corpus path."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                if text is None:
                    continue
                # strip SPACES only: _positional_grams tokenizes with
                # F.split(F.trim(text), ' ') and Spark's trim removes
                # 0x20 only — Python str.strip() would also eat
                # tabs/newlines and diverge on edge-token digests
                words = text.strip(" ").split(" ")
                for i in range(len(words) - n + 1):
                    out.append(
                        hashlib.sha256(" ".join(words[i: i + n]).encode()).digest()
                    )
            yield pd.DataFrame({"gk": pd.Series(out, dtype=object)})

    return docs.select(text_col).mapInPandas(gen, "gk binary")


def exact_substring_excise_sliced(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slices: int = 8,
    scratch_dir: str | None = None,
) -> DataFrame:
    """ExactSubstr excision for corpora past the one-shot form's
    single-box disk boundary (r10 verdict #3): value-identical output to
    `exact_substring_excise`, with peak shuffle footprint bounded by the
    slice size instead of the corpus.

    The one-shot form shuffles the full positional-gram rowset twice
    (digest count window, doc coverage window) plus once to build the
    grams — measured ~100 GB of spill at 5M docs against ~50 GB free
    (docs/SCALE.md; SPILL_OUT_OF_MEMORY recorded). The fix exploits that
    only the COUNTING is global; flagging and coverage are doc-local:

    * PASS A (whole corpus, digests only): stream 32-byte gram digests
      (no doc keys, no positions — _gram_digest_stream), partial-agg
      count, keep digests with count >= min_count. The only full-corpus
      exchange carries 32-byte digests, and the duplicated-digest SET
      lands in `scratch_dir` as parquet — corpus-size-independent state
      between passes.
    * PASS B (per doc slice, `doc_id % n_slices`): build the slice's
      positional grams (the lead-window form — its exchange is now
      slice-bounded), LEFT JOIN the duplicated set on the digest,
      coverage + rebuild exactly as the one-shot form, write the slice's
      rewritten rows to scratch parquet.

    Peak disk ~ (corpus digests) + 2 * (corpus rows / n_slices) + the
    duplicated set per pass — dial n_slices to the box. The function
    EXECUTES the passes (it is a rewrite job, not a view; at 100 TB this
    runs as a batch writing a table) and returns the union read back
    from scratch. Semantics are the one-shot form's to the byte: same
    digests, same min_count over ALL occurrences, same coverage merge —
    pinned by a row-for-row equality test at a tier both forms run. The
    default scratch lives as long as the session: the result reads it lazily."""
    import shutil
    import tempfile

    from crdb_changefeed_publisher_spark.session import session_dir

    spark = docs.sparkSession
    if scratch_dir is None:
        scratch_dir = tempfile.mkdtemp(prefix="exsub_sliced_", dir=session_dir())
    dup_path = f"{scratch_dir}/dup_digests.parquet"
    out_path = f"{scratch_dir}/rewritten.parquet"

    (
        _gram_digest_stream(docs, n, text_col, id_col)
        .groupBy("gk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gk")
        .write.mode("overwrite")
        .parquet(dup_path)
    )
    dup = spark.read.parquet(dup_path).withColumn("dup", F.lit(1))

    # slice on a HASH of the id, not the id itself: the value-identity
    # contract cares only that slices partition the corpus (rewrites are
    # doc-local), and xxhash64 admits string-keyed corpora — the hash-split
    # convention used everywhere else — where pmod(id, n) would throw.
    # Slices accumulate in an .inprogress dir that RENAMES into place after
    # the last slice, so a mid-run crash never leaves a partial corpus
    # readable at out_path (a rerun starts clean): readers see either the
    # previous output or the complete new one.
    tmp_out = f"{out_path}.inprogress"
    shutil.rmtree(tmp_out, ignore_errors=True)
    for s in range(n_slices):
        part = docs.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_slices)) == s
        )
        keyed = _positional_grams(part, n, text_col, id_col)
        flagged = keyed.join(dup, "gk", "left").withColumn(
            "dup_start",
            (F.col("has_gram") & F.col("dup").isNotNull()).cast("int"),
        )
        _excise_covered(flagged, n).write.mode(
            "overwrite" if s == 0 else "append"
        ).parquet(tmp_out)
    # swap the finished corpus in WITHOUT a no-output window (r12 verdict
    # finding #3): rename any existing table ASIDE first (atomic), rename
    # the new one into place (atomic), then reap the old copy — a reader
    # between the two renames sees either the old corpus or the new one,
    # never an empty path.
    old_aside = f"{out_path}.old-{os.getpid()}"
    shutil.rmtree(old_aside, ignore_errors=True)
    had_old = os.path.exists(out_path)
    if had_old:
        os.rename(out_path, old_aside)
    os.rename(tmp_out, out_path)
    if had_old:
        shutil.rmtree(old_aside, ignore_errors=True)

    # the duplicated-digest set is inter-pass state only; the rewritten
    # rows (returned lazily below) are the one artifact the caller owns —
    # at 5M docs the digest parquet is GBs of scratch worth reclaiming
    shutil.rmtree(dup_path, ignore_errors=True)
    return spark.read.parquet(out_path)


def contaminated_span_excise(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Decontamination by EXCISION: remove from each training document
    every >= n-word span that overlaps the evaluation `benchmark` corpus,
    instead of dropping the whole document (`benchmark_contamination` is
    the flag-and-drop sibling; real pipelines scrub the passage and keep
    the rest — the document is data, only the leaked span is poison).
    Coverage semantics are exactly exact_substring_excise's: a position
    is excised when ANY n-gram covering it appears in the benchmark;
    overlapping leaked runs merge into maximal spans. Same output
    contract: (doc_id, n_words, n_removed_words, removed_fraction,
    kept_text), every document survives.

    This is also the INCREMENTAL posture: `benchmark` can be any
    materialized gram source — an eval suite, yesterday's corpus gram
    index — so new shards are scrubbed against a persisted set without
    re-scanning the corpus (the dedup_incremental pattern).

    Plan: benchmark grams reduce to DISTINCT 32-byte digests (MB-scale
    for real eval suites) and BROADCAST onto the training corpus's
    positional gram stream — the scan-sized side never shuffles at all
    (pass broadcast_benchmark=False for a giant span set and let AQE
    pick the join). Then the shared coverage window + per-doc rebuild."""
    from crdb_changefeed_publisher_spark.operators.dedup import shingle_rows

    bench = (
        shingle_rows(benchmark, text_col, id_col, n=n)
        .select(F.unhex(F.sha2(F.col("shingle"), 256)).alias("gk"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    keyed = _positional_grams(docs, n, text_col, id_col)
    flagged = keyed.join(bench, "gk", "left").select(
        "doc_id", "pos", "word",
        (F.col("has_gram") & F.col("_hit").isNotNull()).cast("int").alias(
            "dup_start"),
    )
    return _excise_covered(flagged, n)
