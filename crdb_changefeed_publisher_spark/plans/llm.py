"""LLM-training-data pipeline queries: deduplication (incl. cluster
resolution), similarity search (brute-force / SRP-LSH / trained IVF), text
analysis (stats, quality, perplexity proxy, chunking, fingerprints), and
multimodal feature plumbing — each wired to the operators package, with
engine-portable DuckDB oracles. Only `dedup_minhash_lsh` (engine-native
xxhash64 by design) is rows-only; every other query — including the
approximate LSH/IVF ops, via seeded+rounded literals — is value-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crdb_changefeed_publisher_spark.operators import dedup, linkage, similarity, text
from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.session import session_dir, session_pass
from crdb_changefeed_publisher_spark.tables import load_table

# Session-shared corpus row counts: several guarded specs need n_docs to
# size their saturation budgets (dedup_simhash, doc_fuzzy_linkage_exact);
# counting once per (session, sf_dir) keeps each guard to its count-aggs
# instead of re-counting the corpus per spec (r10 verdict #4).


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    return session_pass(
        spark, "doc_count", sf_dir,
        lambda: load_table(spark, sf_dir, "documents").count(),
    )


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    return session_pass(
        spark, "emb_count", sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


# --- deduplication ---------------------------------------------------------


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT 'exact' AS mode, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    UNION ALL
    SELECT 'normalized' AS mode, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    """,
    doc="Exact and near-exact dedup in one tagged union: hash-groupBy on the "
    "raw text (group on xxhash64(text) at scale) and on the lowercase/"
    "whitespace-normalized text. Two partial-agg shuffles, no joins.",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.exact_duplicates(docs).select(
        F.lit("exact").alias("mode"), "keep_id", "n_copies"
    )
    norm = dedup.normalized_duplicates(docs).select(
        F.lit("normalized").alias("mode"), "keep_id", "n_copies"
    )
    return exact.unionByName(norm)


def _poly_hash_sql(expr: str, max_len: int = 256) -> str:
    """DuckDB rendering of functions/phash.py::poly_hash (same fold mod p)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, least(length({expr}), {max_len}) + 1), "
        f"i -> CAST(ascii(substr({expr}, i, 1)) AS BIGINT))), "
        f"(h, c) -> (h * 31 + c) % 1000000007)"
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), grams AS (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM words
    ), hashed AS (
        SELECT doc_id, shingle, {_poly_hash_sql('shingle')} AS h FROM grams
    ), blocked AS (
        SELECT doc_id, list_distinct(list(shingle)) AS sh, min(h) AS block
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.2
    """,
    doc="Near-dup pairs: exact word-3-gram Jaccard over candidates blocked on "
    "the min PORTABLE HASH of the shingles (1-permutation MinHash; uniform "
    "blocks), with an exact-safe size-ratio prefilter and a salted cap on "
    "block fan-out (operators/dedup.py::jaccard_pairs_minhash_block).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs_minhash_block(
        load_table(spark, sf_dir, "documents"), threshold=0.2,
        # measured saturation guard (r9 sf10): 1-perm min-hash blocking
        # degenerates when shingle diversity saturates vs corpus size
        # (20 candidates/doc at sf1 -> 194 at sf10, quadratic trend)
        candidate_budget=1500,
        n_docs=_doc_count(spark, sf_dir),
    )


@query(
    "doc_fuzzy_linkage",
    # r8 swap round 4 promotion: string-similarity (edit distance) is a
    # different axis from the set-similarity dedup family — character-level
    # mutations barely move shingle Jaccard; running_revenue_by_customer
    # retired in trade
    oracle="""
    WITH d AS (
        SELECT doc_id, lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS t
        FROM documents
    ), k AS (
        SELECT doc_id, t, substr(t, 1, 24) AS p, length(t) AS len FROM d
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, levenshtein(a.t, b.t) AS dist
        FROM k a JOIN k b ON a.p = b.p AND a.doc_id < b.doc_id
        WHERE abs(a.len - b.len) <= 16
    ), pf AS (
        SELECT * FROM pairs WHERE dist <= 16
    ), ends AS (
        SELECT doc_a AS doc_id, doc_b AS nbr, dist FROM pf
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr, dist FROM pf
    ), deg AS (
        SELECT doc_id, count(*) AS n_links, min(dist) AS min_dist
        FROM ends GROUP BY 1
    )
    SELECT g.doc_id, g.n_links, g.min_dist, min(e.nbr) AS nearest
    FROM deg g JOIN ends e ON e.doc_id = g.doc_id AND e.dist = g.min_dist
    GROUP BY 1, 2, 3
    """,
    doc="Fuzzy record linkage: per-doc near-dup degree under normalized "
    "Levenshtein distance <= 16, candidates blocked on the 24-char "
    "normalized prefix with an EXACT length pre-band (|len diff| <= k is "
    "necessary for edit distance <= k) and Spark's banded early-exit DP "
    "(levenshtein(l, r, threshold)). Output bounded by n_docs; the raw "
    "pair stream is the library function "
    "(operators/linkage.py::fuzzy_pairs). The oracle re-derives the "
    "identical blocking + full-DP distances in SQL.",
)
def doc_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return linkage.linkage_degrees(
        linkage.fuzzy_pairs(docs, max_dist=16, prefix_len=24)
    )


@query(
    "doc_fuzzy_linkage_exact",
    # r10 swap round 8 PROMOTION (r9 verdict #6): the exact-recall
    # PassJoin linkage alongside the prefix-blocked screen — the
    # governance row ("no near-dup pair can escape") with a deliberately
    # blocking-free exhaustive oracle
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, t, length(t) AS len,
               [{", ".join(f"length(t) - length(replace(t, '{c}', ''))"
                           for c in "abcdefghijklmnopqrstuvwxyz ")}] AS hist
        FROM (SELECT doc_id,
                     lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS t
              FROM documents)
    ), ka AS MATERIALIZED (
        SELECT doc_id, t, len, hist, len // 5 AS bkt FROM d
    ), kb AS MATERIALIZED (
        SELECT doc_id, t, len, hist,
               unnest([len // 5 - 1, len // 5, len // 5 + 1]) AS bkt
        FROM d
    ), pf AS (
        -- still exhaustive over everything edit distance can admit: both
        -- prefilters are THEOREMS, not blocking. (1) ed >= |len diff|,
        -- rendered as a lossless bucket equi-join (|la-lb| <= 4 implies
        -- the floor(len/5) buckets differ by <= 1, so pairs meet on an
        -- equality); (2) ed >= L1(char histograms)/2 (a substitution
        -- moves two counts, an indel one). Any pair the PassJoin segment
        -- blocking could miss still reaches the DP here — the r10
        -- verdict's MATERIALIZED-CTE discipline item (320 s -> ~45 s at
        -- sf0.1, row-for-row identical at 3 SFs).
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(a.t, b.t) AS dist
        FROM ka a JOIN kb b ON a.bkt = b.bkt AND a.doc_id < b.doc_id
        WHERE abs(a.len - b.len) <= 4
          AND list_sum(list_transform(range(1, 28),
                       i -> abs(a.hist[i] - b.hist[i]))) <= 8
          AND levenshtein(a.t, b.t) <= 4
    ), ends AS (
        SELECT doc_a AS doc_id, doc_b AS nbr, dist FROM pf
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr, dist FROM pf
    ), deg AS (
        SELECT doc_id, count(*) AS n_links, min(dist) AS min_dist
        FROM ends GROUP BY 1
    )
    SELECT g.doc_id, g.n_links, g.min_dist, min(e.nbr) AS nearest
    FROM deg g JOIN ends e ON e.doc_id = g.doc_id AND e.dist = g.min_dist
    GROUP BY 1, 2, 3
    """,
    doc="PassJoin fuzzy linkage with EXACT recall (r8 verdict #5): per-doc "
    "degrees under normalized edit distance <= 4 where candidates come "
    "from the k+1-segment pigeonhole — an edit-distance-<=k pair shares "
    "at least one untouched segment verbatim, found by an equi-join on "
    "(indexed length, slot, substring) with the PassJoin delta window "
    "(|delta| + |len_diff - delta| <= k) bounding probe fan-out to a "
    "CONSTANT ~ (k+1)^2 * (k+1) rows per doc "
    "(operators/linkage.py::fuzzy_pairs_passjoin, Li/Deng/Feng PVLDB'11). "
    "The ORACLE is deliberately blocking-free — an exhaustive length-"
    "banded all-pairs DP — so any recall gap in the segment blocking "
    "would surface as a value mismatch; contrast doc_fuzzy_linkage "
    "(prefix blocking, k=16), whose oracle mirrors its blocking and "
    "whose documented escape (an edit inside the 24-char prefix window) "
    "this operator closes at the documented (k+1)x fan-out price.",
)
def doc_fuzzy_linkage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return linkage.linkage_degrees(
        linkage.fuzzy_pairs_passjoin(
            docs,
            max_dist=4,
            # saturation guard, same budget convention as the other
            # blocked-join rows: measured headroom is wide (segment keys
            # are near-unique — max block pop 6 / ~5 projected
            # candidates per doc at sf10), so the guard only fires on a
            # corpus whose segment space genuinely saturates
            candidate_budget=1500,
            # shared per-(session, sf_dir) corpus count: without it the
            # guarded path pays one extra count job per run (r10 #4)
            n_docs=_doc_count(spark, sf_dir),
        )
    )


@query(
    "dedup_minhash_lsh",
    retired=True,  # rows-only (engine-native xxhash64); portable twin is registered
    oracle=None,  # xxhash64 signatures are engine-native; rows-only check
    doc="MinHash (k=16) + LSH (4 bands) candidate pairs — the 100 TB near-dup "
    "path: shuffles only on band keys, no O(n^2) stage.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.2)


_MINHASH_SIG_COLS = ",\n".join(
    f"        min((h * {a} + {b}) % 1000000007) AS m{i}"
    for i, (a, b) in enumerate(dedup.PORTABLE_COEFFS)
)
_MINHASH_BANDS = ",\n".join(
    "        ("
    + " + ".join(
        f"(m{i} * {dedup._PORTABLE_POWERS[j + 1]}) % 1000000007"
        for j, i in enumerate(range(band * 4, band * 4 + 4))
    )
    + f") % 1000000007 AS b{band}"
    for band in range(2)
)
_MINHASH_MATCHES = " + ".join(f"CAST(a.m{i} = b.m{i} AS INT)" for i in range(8))


# The full portable MinHash+LSH pipeline as a reusable CTE chain — used by
# the pairs oracle and, with WITH RECURSIVE extensions, the cluster oracle.
_MINHASH_CTES = f"""words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM words
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, least(length(shingle), 256) + 1),
                                      i -> CAST(ascii(substr(shingle, i, 1)) AS BIGINT))),
                   (h, c) -> (h * 31 + c) % 1000000007) AS h
        FROM grams
    ),
    sig AS (
        SELECT doc_id,
{_MINHASH_SIG_COLS}
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT *,
{_MINHASH_BANDS}
        FROM sig
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MINHASH_MATCHES}) / 8.0, 4) AS est_jaccard
        FROM banded a JOIN banded b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id,
               round(({_MINHASH_MATCHES}) / 8.0, 4)
        FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    )"""


@query(
    "dedup_minhash_portable",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.2
    """,
    doc="MinHash+LSH with a fully engine-portable hash family (polynomial "
    "string hash + affine transforms mod 1e9+7, 2 bands of 4): the entire "
    "LSH pipeline — signatures, banding, candidate pairs, estimates — is "
    "value-verified against the oracle. The xxhash64 variant stays as the "
    "faster production path.",
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir)


def _banded_sql(src: str, p: str) -> str:
    """CTE chain computing (doc_id, b0, b1) portable band hashes over `src`
    (any relation with doc_id + text), prefix `p` namespacing the CTEs —
    the SQL rendering of operators/dedup.py::portable_banded_signatures,
    instantiated once per side of the incremental corpus/shard probe."""
    return f"""{p}words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM {src}),
    {p}grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM {p}words
    ),
    {p}hashed AS (
        SELECT doc_id, {_poly_hash_sql('shingle')} AS h FROM {p}grams
    ),
    {p}sig AS (
        SELECT doc_id,
{_MINHASH_SIG_COLS}
        FROM {p}hashed GROUP BY doc_id
    ),
    {p}banded AS (
        SELECT *,
{_MINHASH_BANDS}
        FROM {p}sig
    )"""


@query(
    "dedup_incremental",
    # r6 registry swap: promoted (math_funcs_lineitem retired — incremental
    # shard-vs-corpus dedup is the flagship scale story; it deserves a driver row)
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    shard AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    keeps AS (
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(text) AS text
        FROM shard GROUP BY text
    ),
    keepdocs AS (SELECT keep_id AS doc_id, text FROM keeps),
    {_banded_sql('corpus', 'c')},
    {_banded_sql('keepdocs', 's')},
    near AS (
        SELECT DISTINCT s.doc_id AS keep_id FROM sbanded s JOIN cbanded c ON s.b0 = c.b0
        UNION
        SELECT DISTINCT s.doc_id FROM sbanded s JOIN cbanded c ON s.b1 = c.b1
    )
    SELECT k.keep_id, k.n_copies,
           CASE WHEN ck.text IS NOT NULL THEN 'exact'
                WHEN nr.keep_id IS NOT NULL THEN 'near'
                ELSE 'new' END AS vs_corpus
    FROM keeps k
    LEFT JOIN (SELECT DISTINCT text FROM corpus) ck ON k.text = ck.text
    LEFT JOIN near nr ON k.keep_id = nr.keep_id
    """,
    doc="Incremental dedup: admit a new shard (doc_id % 5 = 0) against an "
    "existing corpus (the rest) without any corpus-pairwise work — "
    "within-shard exact dedup, then probe two ids-free corpus indexes "
    "(sha2 content hashes; portable-MinHash band hashes) with equi-joins, "
    "tagging each kept shard doc exact/near/new "
    "(operators/dedup.py::incremental_dedup_report).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    shard = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_dedup_report(corpus, shard)


@query(
    "multimodal_real_features",
    oracle=f"""
    WITH ids AS (SELECT doc_id AS media_id FROM documents),
    ppm AS (
        SELECT media_id, 'image' AS kind, 'ppm' AS fmt,
               CAST(i % 3 AS INT) AS channel,
               CAST((media_id * 7 + i * 13) % 256 AS DOUBLE) AS v
        FROM ids, range(0, {16 * 12 * 3}) t(i) WHERE media_id % 8 = 0
    ),
    bmp AS (
        SELECT media_id, 'image' AS kind, 'bmp' AS fmt,
               CAST(i % 3 AS INT) AS channel,
               CAST((media_id * 3 + i * 7) % 256 AS DOUBLE) AS v
        FROM ids, range(0, {16 * 12 * 3}) t(i) WHERE media_id % 8 = 4
    ),
    pgm AS (
        SELECT media_id, 'image' AS kind, 'pgm' AS fmt,
               0 AS channel,
               CAST((media_id * 5 + i * 3) % 256 AS DOUBLE) AS v
        FROM ids, range(0, {16 * 12}) t(i) WHERE media_id % 4 = 2
    ),
    wav AS (
        SELECT media_id, 'audio' AS kind, 'wav' AS fmt,
               0 AS channel,
               CAST(((media_id * 11 + t * 17) % 65536) - 32768 AS DOUBLE) AS v
        FROM ids, range(0, 480) r(t) WHERE media_id % 2 = 1
    ),
    u AS (
        SELECT * FROM ppm UNION ALL SELECT * FROM bmp
        UNION ALL SELECT * FROM pgm UNION ALL SELECT * FROM wav
    )
    SELECT media_id, kind, fmt, channel,
           count(*) AS n_values,
           round(avg(v), 6) AS mean_v,
           round(sqrt(avg(v * v) - avg(v) * avg(v)), 6) AS std_v
    FROM u GROUP BY media_id, kind, fmt, channel
    """,
    doc="Multimodal REAL-decode gate (r4 verdict #4, replacing the fake-"
    "feature stand-in): deterministic pixel/sample formulas are encoded "
    "into actual container bytes (binary PPM/PGM headers, uncompressed "
    "24-bit BMP with BGR/bottom-up/padded-row layout, RIFF/WAVE PCM "
    "chunks) by operators/multimodal.py::media_payloads, then DECODED BACK "
    "by the pure-numpy header parsers (decode_image / decode_audio — no "
    "codec library needed for uncompressed formats) and reduced to "
    "per-channel count/mean/population-std. The oracle re-derives every "
    "pixel and sample from the same closed forms and reproduces the "
    "mean/std arithmetic, so the codecs, the Arrow plumbing, and the "
    "statistics are all value-verified end to end. Compressed formats "
    "remain the declared decode_compressed boundary (no codec libs in "
    "this container).",
)
def multimodal_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = multimodal.media_payloads(ids)
    stats = multimodal.real_feature_stats(media)
    return stats.select(
        "media_id",
        "kind",
        "fmt",
        "channel",
        "n_values",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("std_v", 6).alias("std_v"),
    )


@query(
    "doc_chunks",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    chunks AS (
        SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 32)) AS start
        FROM words
    )
    SELECT doc_id,
           CAST(start // 32 AS INT)                                   AS chunk_idx,
           array_to_string(list_slice(w, start + 1, least(start + 64, len(w))), ' ')
                                                                      AS chunk_text,
           CAST(least(start + 64, len(w)) - start AS INT)             AS n_tokens
    FROM chunks WHERE start < len(w)
    """,
    doc="Document chunking: overlapping 64-token windows with stride 32 "
    "(context packing / long-doc splitting for LLM training). Pure builtin "
    "sequence+explode+slice — zero Python, zero shuffle.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(load_table(spark, sf_dir, "documents"), window=64, stride=32)


@query(
    "salted_skew_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2)                         AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*)                                          AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Adversarial-skew aggregation: 3 group keys over the whole fact "
    "table, computed via explicit salting (functions/skew.py::salted_agg — "
    "partials across (key, salt) tasks, then a tiny merge groupBy) so no "
    "single task owns a hot key. Result identical to the plain GROUP BY "
    "oracle; the salting changes only the physical distribution.",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.functions.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    aggs = {
        "sum_qty": F.sum("l_quantity"),
        "revenue": F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        "n_rows": F.count(F.lit(1)),
    }
    out = salted_agg(li, ["l_returnflag"], aggs)
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("revenue", 2).alias("revenue"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


@query(
    "dedup_cluster_keep_list",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (SELECT doc_a, doc_b FROM cand WHERE est_jaccard >= 0.2),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.doc_id
    )
    SELECT doc_id, min(label) AS cluster_id,
           CAST(doc_id = min(label) AS INT) AS kept
    FROM walk GROUP BY doc_id
    """,
    doc="Near-dup RESOLUTION: portable MinHash+LSH pairs -> connected "
    "components (iterative min-label propagation, O(diameter) rounds) -> "
    "one canonical keeper (min id) per cluster. The step that turns "
    "pairwise dedup output into an actionable keep list; oracle-verified "
    "end-to-end via a recursive CTE.",
)
def dedup_cluster_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = dedup.connected_components(pairs, docs.select("doc_id"))
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("kept"),
    )


@query(
    "dedup_components_altstar",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH RECURSIVE v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    ),
    edges AS (
        SELECT vec_a AS s, vec_b AS d FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    walk(vec_id, label) AS (
        SELECT vec_id, vec_id FROM v
        UNION
        SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.vec_id
    )
    SELECT vec_id, min(label) AS cluster_id,
           count(*) OVER (PARTITION BY min(label)) AS cluster_size
    FROM walk GROUP BY vec_id
    """,
    doc="Connected components by ALTERNATING LARGE-STAR/SMALL-STAR rounds "
    "(Kiveris et al. 2014) over the embedding-cosine near-dup graph: the "
    "O(log n)-round 100 TB resolution path — min-label propagation "
    "(dedup_cluster_keep_list's oracle semantics, connected_components' "
    "fallback) needs O(component diameter) shuffle rounds, which a long "
    "duplicate CHAIN makes unbounded; the alternating-star fixed point is "
    "topology-independent, keeps zero driver state, and each round is two "
    "groupBy-min shuffles of the (id, id) edge set "
    "(operators/dedup.py::connected_components_altstar). The oracle states "
    "the SEMANTIC definition (min reachable id, recursive CTE), so the "
    "exotic algorithm is verified against the meaning, not a twin "
    "implementation.",
)
def dedup_components_altstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_cosine_pairs(emb, threshold=0.3)
    cc = dedup.connected_components_altstar(
        pairs, emb.select("vec_id"), id_col="vec_id", a_col="vec_a", b_col="vec_b"
    )
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("cluster_size"),
    )


_SIMHASH_VOTES = ",\n               ".join(
    f"sum(CASE WHEN ((h * {a} + {b}) % 1000000007) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j, (a, b) in enumerate(dedup.SIMHASH_COEFFS)
)
_SIMHASH_SIG = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
    for b in range(dedup.SIMHASH_PORTABLE_BITS)
)


@query(
    "dedup_simhash",
    retired=True,  # r11 swap round 9: the r10 realism measurement showed
    # 30-bit SimHash distribution-limited even on realistic text (topical
    # correlation concentrates blocks) — a screen, not a primary
    # generator; realism_minhash_degrees (recall-certified on planted
    # truth at the 500k tier) promoted in trade. Value-verification of
    # this row continues in tests/test_retired_oracle.py.
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ), hashed AS (
        SELECT doc_id, {_poly_hash_sql('tok')} AS h FROM toks
    ), votes AS (
        SELECT doc_id,
               {_SIMHASH_VOTES}
        FROM hashed GROUP BY doc_id
    ), sig AS (
        SELECT doc_id, ({_SIMHASH_SIG})::BIGINT AS sig FROM votes
    ), chunks AS (
        SELECT doc_id, sig, 0 AS chunk_idx, sig & 32767 AS chunk FROM sig
        UNION ALL
        SELECT doc_id, sig, 1, (sig >> 15) & 32767 FROM sig
    ), cand AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM chunks a JOIN chunks b
          ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
         AND a.doc_id <> b.doc_id
    )
    SELECT doc_id, count(DISTINCT neighbor_id) AS n_near_dups,
           min(hamming) AS min_hamming
    FROM cand WHERE hamming <= 8
    GROUP BY doc_id
    """,
    doc="Per-document SimHash near-dup DEGREE: 30-bit PORTABLE signature "
    "(polynomial token hash, per-bit partial-agg votes), 2-chunk 15-bit "
    "banding + Hamming verify, aggregated to (doc_id, n_near_dups, "
    "min_hamming). The registered output is bounded by n_docs even on "
    "pathologically clustered corpora where the raw qualifying-pair SET "
    "goes quadratic-ish (sf1's 31-word vocab: ~3.6e8 pairs — r7 verdict "
    "#3); the pair stream stays available as "
    "operators/dedup.py::simhash_portable_pairs for consumers that need "
    "edges, and the engine-native 64-bit xxhash64 variant as "
    "simhash_pairs. The chunk width is the TILING MAXIMUM "
    "(sig_bits/n_chunks = 15): finer buckets are strictly cheaper and "
    "pigeonhole recall only depends on tiling, so coarser-than-tiling "
    "widths trade cost for extra approximate recall (measured 6x at "
    "sf1). banding_chunk_bits_for is wired as the SATURATION guard: when "
    "the rule's cost-minimum width exceeds the tiling width, the 30-bit "
    "signature has run out of bucket space (~8.4M docs) and the plan "
    "refuses, pointing at the 64-bit variant. Measured on a REALISTIC "
    "(50k-word Zipfian) corpus the 30-bit blocks still concentrate — "
    "same-language text is distributionally similar, so block growth is "
    "SimHash semantics, not only the fixture's 31-word pathology; for "
    "Jaccard-defined governance prefer the MinHash rows (docs/SCALE.md "
    "'Realistic-corpus near-dup scaling', docs/near_dup_realism_r10.json).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = _doc_count(spark, sf_dir)
    cb = dedup.SIMHASH_PORTABLE_BITS // 2  # tiling max: the cost-optimal width
    cb_min = dedup.banding_chunk_bits_for(
        n, sig_bits=dedup.SIMHASH_PORTABLE_BITS, n_chunks=2
    )
    if cb_min >= cb and (256 << cb) < n:
        raise ValueError(
            f"30-bit portable SimHash bucket space saturated at n={n} "
            "(banding_chunk_bits_for needs more than the tiling width): "
            "use the 64-bit simhash_pairs variant (4 x 16-bit chunks)"
        )
    return dedup.simhash_near_dup_degrees(
        docs, max_hamming=8, n_chunks=2, chunk_bits=cb,
        # measured saturation guard (r9 sf10): refuse when blocks grow
        # with the corpus — 5,670 candidates/doc measured at sf10 vs 568
        # at sf1 with the width dial already at its tiling max
        candidate_budget=1500,
        n_docs=n,
    )


@query(
    "dedup_embedding_cosine",
    retired=True,  # r10 swap round 7: covered by the ANN family
    # (ivf/ivfpq/srp_lsh cell-local GEMMs) + dedup_semantic (the learned-
    # cell semantic-dedup tier); DSIR selection promoted in trade
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    """,
    doc="Embedding-cosine near-duplicate pairs (>= 0.3, tuned to the synthetic embedding distribution) blocked on the label "
    "cell — the semantic-dedup tier: one numpy GEMM per cell "
    "(operators/dedup.py::embedding_cosine_pairs); at 100 TB the blocking "
    "key comes from coarse quantization (IVF cell / LSH bucket), making the "
    "computation cell-local instead of O(n^2).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, threshold=0.3)


@query(
    "doc_repetition_signals",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w,
               length(trim(text)) AS n_chars
        FROM documents
    ),
    grams AS (
        SELECT doc_id, n_chars, ns.n AS n,
               unnest(list_transform(range(1, greatest(len(w) - (ns.n - 1), 0) + 1),
                                     i -> array_to_string(w[i:i+ns.n-1], ' '))) AS g
        FROM base, (VALUES (1), (2), (3), (4), (5)) AS ns(n)
    ),
    counts AS (
        SELECT doc_id, n, g, max(n_chars) AS n_chars, count(*) AS c
        FROM grams GROUP BY doc_id, n, g
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rn
        FROM counts
    ),
    per_n AS (
        SELECT doc_id, n, max(n_chars) AS n_chars, sum(c) AS total,
               count(*) AS n_distinct,
               max(CASE WHEN rn = 1 AND c >= 2 THEN c * length(g) END) AS top_cov,
               sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup_cov
        FROM ranked GROUP BY doc_id, n
    ),
    sig AS (
        SELECT doc_id,
               round(1.0 - max(CASE WHEN n = 1 THEN n_distinct END)
                           / max(CASE WHEN n = 1 THEN total END), 4) AS dup_word_frac,
               round(least(1.0, coalesce(max(CASE WHEN n = 2 THEN top_cov END), 0)
                                / greatest(max(n_chars), 1)), 4) AS top2_char_frac,
               round(least(1.0, coalesce(max(CASE WHEN n = 3 THEN top_cov END), 0)
                                / greatest(max(n_chars), 1)), 4) AS top3_char_frac,
               round(least(1.0, coalesce(max(CASE WHEN n = 4 THEN top_cov END), 0)
                                / greatest(max(n_chars), 1)), 4) AS top4_char_frac,
               round(least(1.0, coalesce(max(CASE WHEN n = 5 THEN dup_cov END), 0)
                                / greatest(max(n_chars), 1)), 4) AS dup5_char_frac
        FROM per_n GROUP BY doc_id
    )
    SELECT *, (dup_word_frac > 0.30 OR top2_char_frac > 0.20 OR top3_char_frac > 0.18
               OR top4_char_frac > 0.16 OR dup5_char_frac > 0.15) AS repetitive
    FROM sig
    """,
    doc="Gopher-style within-document repetition signals (duplicate-word "
    "fraction, most-frequent-{2,3,4}-gram character coverage, repeated-5-gram "
    "character coverage, composite `repetitive` flag) — the quality gate that "
    "catches boilerplate/looping text. One scan builds all five gram sizes "
    "(flatten of transforms), one explode, one partial-agg shuffle on "
    "(doc_id, n, gram); windows and pivots stay doc-keyed "
    "(operators/text.py::repetition_signals).",
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_signals(docs)


def _textclf_values() -> str:
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    return ", ".join(f"({b}, {w})" for b, w in sorted(tw.WEIGHTS_INT.items()))


def _textclf_ctes(p: str = "tc_") -> str:
    """The classifier's shared CTE chain through ``{p}margin(doc_id,
    n_grams, n_distinct, margin_int)`` — prefixed so it composes into
    oracles that carry their own CTE namespaces (dedup_quality_keeper
    stacks it on the MinHash walk)."""
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    return f"""{p}base AS (
        SELECT doc_id, lower(trim(text)) AS t FROM documents
        WHERE length(trim(text)) >= 3
    ),
    {p}grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(t) - 1),
                                     i -> substr(t, i, 3))) AS g
        FROM {p}base
    ),
    {p}hb AS (
        SELECT doc_id, g,
               ((CAST(ascii(substr(g, 1, 1)) AS BIGINT) * 31
                 + ascii(substr(g, 2, 1))) * 31
                + ascii(substr(g, 3, 1))) % 1000000007 % {tw.N_BUCKETS} AS bucket
        FROM {p}grams
    ),
    {p}w(bucket, wt) AS (VALUES {_textclf_values()}),
    {p}margin AS (
        SELECT doc_id, n_grams, n_distinct,
               CAST(sw + {tw.W_DUP_INT} * (n_grams - n_distinct)
                    + {tw.BIAS_INT} * n_grams AS BIGINT) AS margin_int
        FROM (
            SELECT doc_id, count(*) AS n_grams,
                   count(DISTINCT g) AS n_distinct,
                   sum(coalesce({p}w.wt, 0)) AS sw
            FROM {p}hb LEFT JOIN {p}w ON {p}w.bucket = {p}hb.bucket
            GROUP BY doc_id
        )
    )"""


def _textclf_oracle() -> str:
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    return f"""
    WITH {_textclf_ctes()}
    SELECT doc_id, n_grams, n_distinct, margin_int,
           round(CAST(margin_int AS DOUBLE) / (n_grams * {tw.SCALE}), 6) AS score,
           margin_int > 0 AS repetitive_pred
    FROM tc_margin
    """


@query(
    "doc_quality_classifier",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=_textclf_oracle(),
    doc="TRAINED quality classifier applied at corpus scale: the 5-signal "
    "Gopher repetition gate (doc_repetition_signals — five gram sizes, "
    "windows, pivots) DISTILLED into a fastText-shaped hashed char-3-gram "
    "linear model (tools/train_textclf.py: deterministic numpy logistic "
    "regression against the teacher oracle's labels; 98.4% train "
    "agreement vs 86% base rate). Weights freeze as round(w * 2^16) ints, "
    "so the per-doc margin is an ORDER-INDEPENDENT exact int64 sum and "
    "the decision boundary is engine-exact — a trained model whose "
    "distributed application is value-verified, not approximately "
    "reproduced. Plan: one char-position explode, broadcast join onto the "
    "KB weight table, one doc-keyed partial-agg shuffle; bucket hashing "
    "is pure JVM codegen (operators/text.py::hashed_ngram_classifier).",
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    docs = load_table(spark, sf_dir, "documents")
    return text.hashed_ngram_classifier(
        docs,
        weights_int=tw.WEIGHTS_INT,
        w_dup_int=tw.W_DUP_INT,
        bias_int=tw.BIAS_INT,
        n_buckets=tw.N_BUCKETS,
        scale=tw.SCALE,
    )


# --- similarity search -----------------------------------------------------


@query(
    "embedding_topk_bruteforce",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.e, c.e)
                     / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))),
                     6) AS score
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 25 = 0
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    doc="Exact cosine top-5 neighbors for sampled query vectors (brute force: "
    "broadcast queries, map over corpus, per-query ranking window).",
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.brute_force_topk(queries, emb, k=5)


# The SRP plane MASTER: 8 tables x SRP_MAX_BITS planes, frozen once. The
# registered plan derives bits_per_table b from the corpus count
# (similarity.srp_bits_for, integer-exact) and uses each table's first b
# planes; the oracle freezes ALL master planes and selects bit < b with the
# same integer rule — so the dial self-sizes per SF while both engines keep
# hashing with identical literals (r7 verdict #1: the 4-bit fixture dial was
# measured 22.7x at sf1 from quadratic bucket fill).
SRP_MAX_BITS = 10  # supports ~300 * 2^10 ≈ 300k vectors before clamping


def _srp_plane_values() -> str:
    """The seeded SRP hyperplane MASTER as SQL VALUES rows (tbl, bit, p).

    The planes are rounded to 6 decimals at generation
    (similarity.srp_planes), so their shortest-repr decimal literals parse
    back to the IDENTICAL doubles in DuckDB — both engines hash with the
    same numbers, which is what makes an LSH operator value-verifiable.
    """
    planes = similarity.srp_planes(bits_per_table=SRP_MAX_BITS)
    rows = []
    for t in range(8):
        for j in range(SRP_MAX_BITS):
            col = planes[:, t * SRP_MAX_BITS + j].tolist()
            lit = "[" + ", ".join(repr(x) for x in col) + "]::DOUBLE[]"
            rows.append(f"({t}, {j}, {lit})")
    return ",\n        ".join(rows)


_SRP_BITS_CHOICES = ", ".join(f"({b})" for b in range(4, SRP_MAX_BITS + 1))


@query(
    "embedding_topk_srp_lsh",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % 25 = 0),
    nbits AS (
        SELECT MIN(b)::INT AS b FROM (VALUES {_SRP_BITS_CHOICES}) t(b)
        WHERE (300::BIGINT << b) >= (SELECT count(*) FROM embeddings)
           OR b = {SRP_MAX_BITS}
    ),
    planes(tbl, bit, p) AS (VALUES
        {_srp_plane_values()}
    ),
    cproj AS (
        SELECT v.vec_id, tbl, bit, round(list_dot_product(e, p), 6) AS m
        FROM v CROSS JOIN planes
        WHERE bit < (SELECT b FROM nbits)
    ),
    cbuck AS (
        SELECT vec_id, tbl,
               (sum(CASE WHEN m > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END))::BIGINT AS bucket
        FROM cproj GROUP BY vec_id, tbl
    ),
    qproj AS (SELECT * FROM cproj WHERE vec_id % 25 = 0),
    qbuck AS (SELECT * FROM cbuck WHERE vec_id % 25 = 0),
    qflips AS (
        SELECT vec_id, tbl, bit FROM (
            SELECT vec_id, tbl, bit,
                   row_number() OVER (PARTITION BY vec_id, tbl
                                      ORDER BY abs(m), bit) AS rn
            FROM qproj
        ) WHERE rn <= 2
    ),
    qprobe AS (
        SELECT vec_id, tbl, bucket FROM qbuck
        UNION
        SELECT f.vec_id, f.tbl, xor(b.bucket, (1::BIGINT << f.bit))
        FROM qflips f JOIN qbuck b ON b.vec_id = f.vec_id AND b.tbl = f.tbl
    ),
    cand AS (
        SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qprobe qp JOIN cbuck c ON c.tbl = qp.tbl AND c.bucket = qp.bucket
        WHERE c.vec_id <> qp.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_dot_product(q.e, n.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))), 6) AS score
        FROM cand
        JOIN q ON q.vec_id = cand.query_id
        JOIN v n ON n.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    doc="Approximate top-5 via multi-probe signed-random-projection LSH "
    "(8 tables, SELF-SIZED bits/table from the corpus count via the "
    "integer-exact srp_bits_for rule, + 2 nearest-boundary bit-flip "
    "probes per table; ids-only signature pass; exact cosine rerank). "
    "The oracle freezes the full 10-bit plane master as literals and "
    "derives the same bit count from COUNT(*), so buckets, probes, "
    "candidates, and ranks stay value-verified at every SF while the "
    "bucket population — the quadratic term measured at sf1 — stays "
    "~constant.",
)
def embedding_topk_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # metadata-cheap corpus count -> the sf1-measured sizing rule
    bits = similarity.srp_bits_for(emb.count(), hi=SRP_MAX_BITS)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.srp_lsh_topk(
        queries, emb, k=5, n_probes=2, bits_per_table=bits, max_bits=SRP_MAX_BITS
    )


# --- text analysis ---------------------------------------------------------


def _marker_sql(markers: list[str]) -> str:
    terms = [
        f"(length(p) - length(replace(p, ' {m} ', ''))) / {len(m) + 2}.0" for m in markers
    ]
    return " + ".join(terms)


_LANG_SCORES = ",\n".join(
    f"{_marker_sql(text.LANG_MARKERS[code])} AS s_{code}" for code in sorted(text.LANG_MARKERS)
)
_LANG_CASE = (
    "CASE "
    + " ".join(
        "WHEN s_{c} > 0 AND ".format(c=c)
        + " AND ".join(
            f"s_{c} >= s_{other}" for other in sorted(text.LANG_MARKERS) if other != c
        )
        + f" THEN '{c}'"
        for c in sorted(text.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


@query(
    "lang_id_confusion",
    retired=True,  # r9 swap round 6: fixture tag-join; matview promoted in trade
    oracle=f"""
    WITH padded AS (
        SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents
    ), scores AS (
        SELECT doc_id, lang, {_LANG_SCORES} FROM padded
    )
    SELECT lang, {_LANG_CASE} AS predicted, count(*) AS n_docs
    FROM scores GROUP BY 1, 2
    """,
    doc="Marker-lexicon language ID vs the labeled lang column, aggregated to "
    "a confusion matrix. The CASE mirrors the Spark fold's argmax+tiebreak.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_perplexity_proxy",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    bi AS (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
                       i -> w[i] || ' ' || w[i+1])) AS shingle
        FROM words
    ),
    counts AS (SELECT shingle, count(*) AS c FROM bi GROUP BY shingle),
    total AS (SELECT sum(c) AS t FROM counts)
    SELECT doc_id, round(avg(-ln(c / t)), 4) AS nll
    FROM bi JOIN counts USING (shingle) CROSS JOIN total
    GROUP BY doc_id
    """,
    doc="Perplexity-proxy quality score: mean -ln(corpus probability) of the "
    "document's word bigrams — the cheap portable stand-in for model-based "
    "perplexity filtering (low = boilerplate/predictable, high = "
    "rare/garbled). Scalar-subquery broadcast for the corpus total; one "
    "partial-agg shuffle on the bigram.",
)
def doc_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_nll(load_table(spark, sf_dir, "documents"))


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(1, length(text) + 1),
                                           i -> CAST(ascii(text[i]) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 1000000007) AS fp
    FROM documents
    """,
    doc="Polynomial rolling-hash document fingerprint (h*31+code mod 1e9+7), "
    "identical fold on both engines; Arrow-vectorized "
    "(functions/phash.py; the expression form in operators/text.py is the "
    "spec, equivalence-tested).",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.functions.phash import poly_hash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", poly_hash(F.col("text"), max_len=4096).alias("fp"))


# Shared contamination stats (the corpus-wide 8-gram pass is the expensive
# stage of corpus_curation_report): computed once per (session, sf_dir),
# persisted, and timed by bench as its own row — the production posture,
# where decontamination stats are materialized once per corpus snapshot
# and every downstream gate reads them.


def _contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_pass(
        spark, "contamination", sf_dir,
        lambda: text.benchmark_contamination(load_table(spark, sf_dir, "documents")).persist(),
    )


# Session-shared build passes, exposed by name so bench.py can time each
# one as an explicit `_shared:<name>` entry (round-5 verdict: a per-query
# column where one query's cost hides inside another's alphabetical
# predecessor misleads round-over-round comparison). Each callable builds
# + persists the pass; bench materializes it before timing consumers, so
# consumer rows read as MARGINAL cost regardless of run order.
SHARED_PASSES = {
    "contamination": _contamination,
    "minhash_pairs": lambda spark, sf_dir: _minhash_pairs(spark, sf_dir),
    # k-means training is eager (the Lloyd loop collects k-row updates
    # inside _kmeans_cents), and r13 adds the one-time PERSISTED flat
    # index build (the write-time assignment exchange, mirroring
    # kmeans2_train below); the returned 1-row frame just gives bench a
    # materializable handle, so the registered embedding_topk_ivf_trained
    # row reads as its MARGINAL cost: pruned scan + probe + rerank
    "kmeans_train": lambda spark, sf_dir: spark.createDataFrame(
        [(
            len(_kmeans_cents(spark, sf_dir)),
            _kmeans_index_path(spark, sf_dir),
        )],
        "k int, index_path string",
    ),
    # two-level training is likewise eager (the trainer persists and
    # materializes the codebook before returning), and r13 adds the
    # one-time PERSISTED-INDEX build (the write-time exchange) to the
    # shared pass, so the registered embedding_topk_ivf_two_level row
    # reads as its marginal cost: pruned scan + probe + rerank — the
    # repeat-serve economics the layout exists for
    "kmeans2_train": lambda spark, sf_dir: spark.createDataFrame(
        [(
            _kmeans2_codebook_df(spark, sf_dir)[1].count(),
            _kmeans2_index_path(spark, sf_dir),
        )],
        "k_total long, index_path string",
    ),
    # the 500k-tier realism pair table (plans/realism.py): built once per
    # session, consumed by realism_minhash_degrees (registered) and the
    # planted-truth recall test. Deferred import — llm is imported before
    # realism during plans package init. Ignores sf_dir by design (the
    # realistic corpus is its own fixture).
    "realism_pairs": lambda spark, sf_dir: __import__(
        "crdb_changefeed_publisher_spark.plans.realism", fromlist=["realism"]
    ).realism_pairs(spark),
}


# Shared portable MinHash+LSH candidate pairs: the signature + banding +
# pair-join pipeline is the expensive stage of BOTH dedup_minhash_portable
# (the pair report) and dedup_cluster_keep_list (pairs -> connected
# components -> keep list). Built once per (session, sf_dir), persisted,
# consumed by both — the production posture, where the near-dup pair table
# is materialized once per corpus snapshot and the resolution/report
# stages read it (same pattern as _contamination; bench times it as the
# explicit `_shared:minhash_pairs` row).


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_pass(
        spark, "minhash_pairs", sf_dir,
        lambda: dedup.minhash_portable_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.2
        ).persist(),
    )


@query(
    "doc_seq_packing",
    retired=True,  # registry is at the 50 cap; full oracle verification
    # runs in pytest (tests/test_retired_oracle.py) like every retired spec
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS excl
        FROM t
    )
    SELECT doc_id, n_tokens,
           excl // 512 AS bin_id,
           excl % 512 AS offset_in_bin,
           (excl % 512) + n_tokens > 512 AS spans_bins
    FROM c
    """,
    doc="Training-sequence packing (concat-and-split): documents laid end "
    "to end in deterministic doc_id order, token stream cut every 512 "
    "tokens; each doc gets the bin where it starts + its offset, docs "
    "crossing a cut flagged. The global exclusive token cumsum is computed "
    "two-phase (range partition -> local running sum -> broadcast "
    "per-partition offsets, functions/ranks.py pattern) — the oracle's "
    "single ORDER BY window would single-partition 100 TB; the engine "
    "plan never does (operators/text.py::pack_sequences).",
)
def doc_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_sequences(load_table(spark, sf_dir, "documents"), capacity=512)


@query(
    "doc_tfidf_top_terms",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN dft USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    doc="TF-IDF top-5 terms per document (textbook tf * ln(N/df)): one "
    "explode + per-(doc,term) partial-agg count, per-term distinct-doc "
    "count, 1-row broadcast corpus size, per-doc ranking window with "
    "round-then-term tiebreak (operators/text.py::tfidf_top_terms).",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


@query(
    "doc_boilerplate_report",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH sent AS (
        SELECT doc_id, lower(trim(s)) AS sk
        FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s FROM documents)
    ),
    hot AS (
        SELECT sk FROM (
            SELECT sk, count(DISTINCT doc_id) AS nd FROM sent GROUP BY 1
        ) WHERE nd >= 10
    )
    SELECT s.doc_id,
           count(*) AS n_sentences,
           CAST(sum(CASE WHEN h.sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler,
           round(sum(CASE WHEN h.sk IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS boiler_frac
    FROM sent s LEFT JOIN hot h ON h.sk = s.sk
    GROUP BY s.doc_id
    """,
    doc="Boilerplate detection (C4-style gate): sentences whose normalized "
    "form appears in >= 10 distinct documents are flagged; per-doc "
    "boilerplate fraction for threshold-based dropping. Sentence identity "
    "shuffles as sha2 hashes, never the text "
    "(operators/text.py::boilerplate_report).",
)
def doc_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.boilerplate_report(load_table(spark, sf_dir, "documents"), min_docs=10)


@query(
    "doc_bm25_search",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qw AS (SELECT * FROM words WHERE term IN ('merge', 'join', 'hash')),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM qw GROUP BY 1, 2),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM qw GROUP BY 1),
    per_term AS (
        SELECT tf.doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * (1.2 + 1))
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
        FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, round(sum(s), 6) AS score
    FROM per_term GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="Okapi BM25 retrieval (query 'merge join hash', k1=1.2 b=0.75, "
    "smoothed idf): query-term filter lands BEFORE any shuffle on the "
    "exploded stream, doc lengths partial-agg, (N, avgdl, df) broadcast; "
    "deterministic top-10 via round + id tiebreak "
    "(operators/text.py::bm25_scores).",
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_scores(
        load_table(spark, sf_dir, "documents"), ["merge", "join", "hash"], k=10
    )


@query(
    "doc_budget_selection",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH base AS (
        SELECT doc_id, text,
               len(string_split(trim(text), ' ')) AS n_words,
               length(replace(trim(text), ' ', ''))
                   / len(string_split(trim(text), ' ')) AS awl,
               (length(text) - length(replace(text, '.', ''))) / 1.0
                 + (length(text) - length(replace(text, ',', ''))) / 1.0 AS punct
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(round(round(0.4 * least(length(text) / 500.0, 1.0)
                     + 0.3 * (CASE WHEN awl >= 3 AND awl <= 10 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * greatest(0.0, 1.0 - punct / greatest(n_words, 1)),
                     4) * 10000) AS BIGINT) AS q4,
               CAST(n_words AS BIGINT) AS n_tokens
        FROM base
    ),
    cum AS (
        SELECT doc_id, q4, n_tokens,
               sum(n_tokens) OVER (ORDER BY q4 DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, q4 / 10000.0 AS quality, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= 15000
    """,
    doc="Budget-constrained corpus selection: keep the best-quality "
    "documents whose INCLUSIVE cumulative token count fits a 15k-token "
    "budget (quality desc, id asc greedy prefix). The cumsum over the "
    "quality order runs two-phase (range partition -> local running sum "
    "-> broadcast offsets) — the oracle's single ORDER BY window would "
    "single-partition 100 TB; the engine plan never does "
    "(operators/curate.py::select_token_budget).",
)
def doc_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.curate import select_token_budget

    return select_token_budget(load_table(spark, sf_dir, "documents"), budget_tokens=15000)


@query(
    "lang_mixture_weights",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH toks AS (
        SELECT lang,
               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS domain_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(domain_tokens) AS t FROM toks),
    scaled AS (
        SELECT lang, domain_tokens,
               domain_tokens / t AS natural_share,
               pow(domain_tokens / t, 0.5) AS s
        FROM toks CROSS JOIN tot
    ),
    z AS (SELECT sum(s) AS z FROM scaled)
    SELECT lang, domain_tokens,
           round(natural_share, 6) AS natural_share,
           round(s / z, 6) AS target_share,
           round(least(1.0, (s / z) / natural_share), 6) AS sample_rate
    FROM scaled CROSS JOIN z
    """,
    doc="Temperature-scaled domain-mixture weights (alpha = 0.5): sample "
    "each language proportional to (token share)^alpha — the standard "
    "multilingual rebalancing rule (upsamples tail languages). Emits "
    "per-domain token mass, natural and target shares, and the realizing "
    "per-doc sampling rate (capped at 1). One partial-agg shuffle + two "
    "broadcast 1-row totals (operators/curate.py::mixture_weights).",
)
def lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    return curate.mixture_weights(load_table(spark, sf_dir, "documents"), alpha=0.5)


def _seeded_hash_fold(expr: str) -> str:
    """DuckDB SQL mirroring operators/curate.py::_seeded_hash: the first 15
    hex digits of sha2-256 over a VARCHAR expression, parsed to a BIGINT in
    [0, 2^60) via a base-16 fold (DuckDB lacks a hex-to-int cast)."""
    return f"""list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 16),
                                    i -> CAST(strpos('0123456789abcdef',
                                                     substr(sha256({expr}), i, 1)) - 1
                                              AS BIGINT))),
        (h, c) -> h * 16 + c)"""


@query(
    "multimodal_image_quality",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH ids AS (SELECT doc_id AS media_id FROM documents),
    vals AS (
        SELECT media_id, 'ppm' AS fmt, i,
               CAST((media_id * 7 + i * 13) % 256 AS BIGINT) AS v
        FROM ids, range(0, {16 * 12 * 3}) t(i) WHERE media_id % 8 = 0
        UNION ALL
        SELECT media_id, 'bmp', i, CAST((media_id * 3 + i * 7) % 256 AS BIGINT)
        FROM ids, range(0, {16 * 12 * 3}) t(i) WHERE media_id % 8 = 4
        UNION ALL
        SELECT media_id, 'pgm', i, CAST((media_id * 5 + i * 3) % 256 AS BIGINT)
        FROM ids, range(0, {16 * 12}) t(i) WHERE media_id % 4 = 2
    ),
    tot AS (
        SELECT media_id, fmt, count(*) AS n, max(v) AS mx, min(v) AS mn
        FROM vals GROUP BY 1, 2
    ),
    hist AS (SELECT media_id, fmt, v, count(*) AS c FROM vals GROUP BY 1, 2, 3),
    ent AS (
        SELECT h.media_id, h.fmt, -sum((c / n) * log2(c / n)) AS e
        FROM hist h JOIN tot USING (media_id, fmt) GROUP BY 1, 2
    ),
    grad AS (
        SELECT a.media_id, a.fmt, avg(abs(b.v - a.v)) AS g
        FROM vals a JOIN vals b
          ON b.media_id = a.media_id AND b.fmt = a.fmt AND b.i = a.i + 1
        GROUP BY 1, 2
    )
    SELECT t.media_id, t.fmt, t.n AS n_values,
           round(e, 4) AS entropy,
           round(g, 4) AS grad_mean,
           round((mx - mn) / 255.0, 4) AS contrast
    FROM tot t
    JOIN ent USING (media_id, fmt)
    JOIN grad USING (media_id, fmt)
    """,
    doc="Image-quality gates from actually-decoded pixels: 256-bin Shannon "
    "entropy, mean |consecutive raster difference| (sharpness/noise "
    "proxy), and min-max contrast per image — payload bytes go through "
    "the real PPM/PGM/BMP decoders and the oracle re-derives every pixel "
    "from the closed-form fixture formulas "
    "(operators/multimodal.py::image_quality_features).",
)
def multimodal_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return multimodal.image_quality_features(multimodal.media_payloads(ids))


@query(
    "multimodal_near_dup",
    # r7 swap promotion: planted-oracle perceptual dedup — genuinely novel
    # surface (real decode -> pHash/audio fingerprint -> hamming-band LSH)
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           CAST(doc_id AS BIGINT) AS media_a,
           CAST(doc_id + 1000000 AS BIGINT) AS media_b
    FROM documents
    ORDER BY media_a
    """,
    doc="Perceptual near-dup detection over a PLANTED-ground-truth media "
    "corpus: every base id carries an original payload and a perturbed "
    "copy (images +3 on ~1/16 of pixels; audio amplitude-rescaled 3/4 "
    "with sparse additive noise), all other payloads are pairwise-"
    "decorrelated splitmix64 noise. The pipeline — real PGM/WAV decode "
    "-> DCT pHash / Haitsma-Kalker spectral fingerprint -> 8x8-bit "
    "hamming-band LSH (pigeonhole-exact for hamming <= 7) -> exact "
    "verify — must recover EXACTLY the planted (m, m+1e6) pairs, which "
    "is pure id arithmetic for the oracle. Measured margins at sf0.1 "
    "scale: planted pairs hamming <= 4, closest cross pair 11 "
    "(operators/multimodal.py::media_near_dup_pairs; docs/SCALE.md).",
)
def multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import multimodal

    ids = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = multimodal.near_dup_media_payloads(ids)
    return (
        multimodal.media_near_dup_pairs(media)
        .select("kind", "media_a", "media_b")
        .orderBy("media_a")
    )


@query(
    "embedding_gram_covariance",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH e AS (SELECT embedding AS v FROM embeddings),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
    pairs AS (
        SELECT i.i - 1 AS i, j.j - 1 AS j,
               sum(CAST(v[i.i] AS DOUBLE) * CAST(v[j.j] AS DOUBLE)) AS g
        FROM e, range(1, 65) i(i), range(1, 65) j(j)
        GROUP BY 1, 2
    ),
    sums AS (
        SELECT i.i - 1 AS i, sum(CAST(v[i.i] AS DOUBLE)) AS s
        FROM e, range(1, 65) i(i)
        GROUP BY 1
    )
    SELECT p.i, p.j, round(p.g, 4) AS gram,
           round(p.g / n - (a.s / n) * (b.s / n), 4) AS cov
    FROM pairs p
    JOIN sums a ON a.i = p.i
    JOIN sums b ON b.i = p.j
    CROSS JOIN tot
    """,
    doc="One-pass distributed Gram matrix + covariance over the embedding "
    "corpus (the whitening/PCA/IVF-training statistic): each partition "
    "GEMMs its rows into a float64 d x d partial via mapInPandas, only the "
    "(partitions * d^2) partials shuffle — wire cost independent of corpus "
    "size; the oracle recomputes every entry by explicit index cross "
    "products (operators/linalg.py::gram_covariance).",
)
def embedding_gram_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.linalg import gram_covariance

    return gram_covariance(load_table(spark, sf_dir, "embeddings"))


# --- in-engine clustering (exact-arithmetic k-means) -------------------------

KMEANS_ITERS = 3
KMEANS_SCALE = 1024
KMEANS_CELL_TARGET = 250
_KM_DIST = (
    "CAST(list_sum(list_transform(range(1, 65), "
    "i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT)"
)


def _kmeans_ctes(
    n_iters: int = KMEANS_ITERS,
    scale: int = KMEANS_SCALE,
    cell_target: int = KMEANS_CELL_TARGET,
) -> str:
    """Unrolled-Lloyd CTE chain mirroring operators/linalg.py::
    kmeans_quantized step for step: v = floor-quantized int vectors,
    kdial = the SELF-SIZING cell count (smallest power-of-two k with
    k * cell_target >= COUNT(*) — linalg.kmeans_k_for rendered as the
    same integer comparison over the same choice list, the
    srp_bits_for convention; a fixture-sized k is the r7 `weak`
    pattern: cell population, and with it the probe cost, grows with
    the corpus; the CTE's ``OR k = last`` arm only makes MIN defined —
    past that capacity the Spark dial RAISES before any compare runs),
    c0 = hash-order seeds, then per iteration an argmin
    assignment (exact int64 squared L2, cid tiebreak) and floor-mean
    centroid update with empty clusters carrying forward. The update's
    ``floor(sum::DOUBLE / n)`` equals Python's exact ``sum // n``:
    both operands are exact (<2^53), a non-integer quotient is >= 1/n
    from any integer, and the division's rounding error is ~2^-40 of
    that margin; an integer quotient divides exactly."""
    from crdb_changefeed_publisher_spark.operators.linalg import KMEANS_K_CHOICES

    choices = ", ".join(f"({k})" for k in KMEANS_K_CHOICES)
    parts = [
        "v AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(floor(x * {scale}) AS BIGINT)) AS q FROM embeddings)",
        f"kdial AS MATERIALIZED (SELECT MIN(k)::INT AS k FROM (VALUES {choices}) t(k) "
        f"WHERE k * {cell_target} >= (SELECT count(*) FROM embeddings) "
        f"OR k = {KMEANS_K_CHOICES[-1]})",
        "c0 AS MATERIALIZED (SELECT cid, c FROM ("
        "  SELECT row_number() OVER ("
        "    ORDER BY sha256('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id"
        "  ) - 1 AS cid, q AS c FROM v"
        ") WHERE cid < (SELECT k FROM kdial))",
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT vec_id, q, cid FROM ("
            f"  SELECT v.vec_id, v.q, c.cid, row_number() OVER ("
            f"    PARTITION BY v.vec_id ORDER BY {_KM_DIST}, c.cid) AS rn"
            f"  FROM v, c{t - 1} c"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS c FROM ("
            f"  SELECT cid, pos, CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(*)) AS BIGINT) AS m"
            f"  FROM a{t}, range(1, 65) r{t}(pos) GROUP BY cid, pos"
            f") GROUP BY cid)"
        )
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT * FROM m{t} UNION ALL "
            f"SELECT p.cid, p.c FROM c{t - 1} p "
            f"WHERE p.cid NOT IN (SELECT cid FROM m{t}))"
        )
    return ",\n    ".join(parts)


def _train_flat_and_level1(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """ONE corpus training pipeline for BOTH session codebooks (r14,
    guide §5 / r13 verdict #2): the flat IVF centroids (_kmeans_cents)
    and the two-level trainer's level-1 cells previously each ran their
    own count job, seed top-k, vecs persist and n_iters update passes
    over the SAME embeddings table. Fused: one shared count
    (_emb_count), one seed top-k at max(k, k1) sliced per dial (the
    hash order is a fixed total order, so seeds(k) == seeds(kmax)[:k]),
    and kmeans_train_multi's lockstep iterations — one persisted scan,
    one Arrow pass + one KB stats collect per iteration for both sets.
    At tiers where the dials agree (k == k1, up to ~16k vectors) the
    sets share seeds and the second training is free via the multi
    trainer's identical-seed dedup. Per-set arithmetic is untouched —
    centroids are bit-identical to the separate trainers (integer sums
    are order-independent), which the retired-oracle suite pins."""

    def build():
        from crdb_changefeed_publisher_spark.operators import linalg

        n = _emb_count(spark, sf_dir)
        k = linalg.kmeans_k_for(n, cell_target=KMEANS_CELL_TARGET)
        k1 = linalg.kmeans_k1_for(n, cell_target=KMEANS_CELL_TARGET)
        emb = load_table(spark, sf_dir, "embeddings")
        seeds = linalg.kmeans_seeds(emb, max(k, k1), KMEANS_SCALE)
        return tuple(linalg.kmeans_train_multi(
            emb, [seeds[:k], seeds[:k1]], n_iters=KMEANS_ITERS, scale=KMEANS_SCALE
        ))

    return session_pass(spark, "kmeans_train", sf_dir, build)


def _kmeans_cents(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Session-shared trained centroids (per (session, sf_dir), like
    _contamination): one training run feeds dedup_semantic AND
    embedding_topk_ivf_trained — centroids are k*d
    ints, so the cache is KB-sized. k SELF-SIZES from a cheap corpus
    count via kmeans_k_for (the srp_bits_for convention; the oracle
    derives the identical k from COUNT(*) in its kdial CTE), so cell
    population — and with it a fixed-probe query's candidate budget —
    stays ~KMEANS_CELL_TARGET at every corpus size instead of growing
    as n/8."""
    return _train_flat_and_level1(spark, sf_dir)[0]


def _kmeans_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared PERSISTED flat-IVF index for the tier (the
    _kmeans2_index_path convention on the flat trained codebook): the
    corpus assignment written once as the cell-partitioned layout
    (similarity.build_trained_index), served directory-pruned by every
    consumer — the write-time posture ivf_topk_trained's docstring
    names, now also what the registered row exercises."""

    def build() -> str:
        cents = _kmeans_cents(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        path = session_dir("ann_flat", sf_dir.strip("/").replace("/", "_"))
        similarity.build_trained_index(emb, cents, path, scale=KMEANS_SCALE)
        return path

    return session_pass(spark, "kmeans_index", sf_dir, build)


# final-centroid argmin assignment, shared by every consumer of the
# trained cells (dedup_semantic, embedding_topk_ivf_trained)
_KM_ASSIGN_CTE = f"""assign AS MATERIALIZED (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cid AS cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sq_dist, cid) AS rn
            FROM (
                SELECT v.vec_id, c.cid, {_KM_DIST} AS sq_dist
                FROM v, c{KMEANS_ITERS} c
            )
        ) WHERE rn = 1
    )"""


@query(
    "dedup_semantic",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH {_kmeans_ctes()},
    {_KM_ASSIGN_CTE},
    ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (
        SELECT aa.vec_id AS vec_a, ab.vec_id AS vec_b,
               round(list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
        FROM assign aa JOIN assign ab ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
        JOIN ve a ON a.vec_id = aa.vec_id
        JOIN ve b ON b.vec_id = ab.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
    ),
    ends AS (
        SELECT vec_a AS vec_id, cos_sim FROM pairs
        UNION ALL
        SELECT vec_b, cos_sim FROM pairs
    ),
    deg AS (
        SELECT vec_id, count(*) AS n_near_dups, max(cos_sim) AS max_cos
        FROM ends GROUP BY vec_id
    )
    SELECT d.vec_id, s.cluster, d.n_near_dups, d.max_cos
    FROM deg d JOIN assign s ON s.vec_id = d.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023): semantic near-dups found INSIDE "
    "LEARNED k-means cells — the published scale recipe for embedding "
    "dedup, here with the cells trained in-engine (_kmeans_cents) "
    "instead of taken from the fixture's label column "
    "(dedup_embedding_cosine's blocking key). One GEMM per cell via "
    "applyInPandas; the cell key bounds the candidate set so no all-pairs "
    "stage exists at any scale. The SPEC output is the per-vector "
    "near-dup DEGREE (+ strongest similarity) — bounded by n_vectors, "
    "never by the pair count (the dedup_simhash r7 lesson: a registered-"
    "shape output must not go quadratic on pathological corpora; the raw "
    "pair stream stays the library path consumers compose on). The whole "
    "composition — training, assignment, within-cell cosine, degree "
    "fold — is value-exact against the oracle.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.linalg import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_assign(
        emb, _kmeans_cents(spark, sf_dir), scale=KMEANS_SCALE
    ).select("vec_id", "cluster")
    blocked = emb.join(cells, "vec_id")
    pairs = dedup.embedding_cosine_pairs(blocked, threshold=0.3, cell_col="cluster")
    ends = pairs.select(F.col("vec_a").alias("vec_id"), "cos_sim").unionByName(
        pairs.select(F.col("vec_b").alias("vec_id"), "cos_sim")
    )
    deg = ends.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_near_dups"), F.max("cos_sim").alias("max_cos")
    )
    return deg.join(cells, "vec_id").select(
        "vec_id", "cluster", "n_near_dups", "max_cos"
    )


_KM2_DIST = (
    "CAST(list_sum(list_transform(range(1, 65), "
    "i -> (l.q[i] - c.c[i]) * (l.q[i] - c.c[i]))) AS BIGINT)"
)


def _kmeans2_ctes(
    n_iters: int = KMEANS_ITERS,
    scale: int = KMEANS_SCALE,
    cell_target: int = KMEANS_CELL_TARGET,
) -> str:
    """Unrolled TWO-LEVEL Lloyd CTE chain mirroring operators/linalg.py::
    kmeans_train_two_level + kmeans_assign_two_level step for step — the
    seventh-decade trainer's exactness proof (r10 verdict #1: an oracle
    design that keeps the exactness story; nothing here is sampled, so
    the twin is value-exact, not a tolerance contract).

    Level 1 is the existing unrolled chain under the k1 dial (kdial1 =
    smallest power-of-two with k*k*cell_target >= COUNT(*) — the squared
    comparison of linalg.kmeans_k1_for); l1 keys every vector by its
    final coarse cell. Level 2 is the SAME chain PARTITIONED BY cell:
    per-cell k2 dial (kd2, the linear comparison over per-cell counts),
    per-cell hash-order seeds (row_number over the same sha256
    expression — cells with fewer rows than k2 seed fewer clusters,
    matching numpy's min(k, len)), per-iteration argmin with
    (dist, sub) ties and per-(cell, sub) floor means with carry-forward
    for empty subclusters."""
    from crdb_changefeed_publisher_spark.operators.linalg import KMEANS_K_CHOICES

    choices = ", ".join(f"({k})" for k in KMEANS_K_CHOICES)
    parts = [
        "v AS MATERIALIZED (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(floor(x * {scale}) AS BIGINT)) AS q FROM embeddings)",
        f"kdial1 AS MATERIALIZED (SELECT MIN(k)::INT AS k FROM (VALUES {choices}) t(k) "
        f"WHERE CAST(k AS BIGINT) * k * {cell_target} >= (SELECT count(*) FROM embeddings) "
        f"OR k = {KMEANS_K_CHOICES[-1]})",
        "c0 AS MATERIALIZED (SELECT cid, c FROM ("
        "  SELECT row_number() OVER ("
        "    ORDER BY sha256('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id"
        "  ) - 1 AS cid, q AS c FROM v"
        ") WHERE cid < (SELECT k FROM kdial1))",
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT vec_id, q, cid FROM ("
            f"  SELECT v.vec_id, v.q, c.cid, row_number() OVER ("
            f"    PARTITION BY v.vec_id ORDER BY {_KM_DIST}, c.cid) AS rn"
            f"  FROM v, c{t - 1} c"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS c FROM ("
            f"  SELECT cid, pos, CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(*)) AS BIGINT) AS m"
            f"  FROM a{t}, range(1, 65) r{t}(pos) GROUP BY cid, pos"
            f") GROUP BY cid)"
        )
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT * FROM m{t} UNION ALL "
            f"SELECT p.cid, p.c FROM c{t - 1} p "
            f"WHERE p.cid NOT IN (SELECT cid FROM m{t}))"
        )
    parts.append(
        f"l1 AS MATERIALIZED (SELECT vec_id, q, cell FROM ("
        f"  SELECT v.vec_id, v.q, c.cid AS cell, row_number() OVER ("
        f"    PARTITION BY v.vec_id ORDER BY {_KM_DIST}, c.cid) AS rn"
        f"  FROM v, c{n_iters} c"
        f") WHERE rn = 1)"
    )
    parts.append(
        f"kd2 AS MATERIALIZED (SELECT g.cell, MIN(t.k)::INT AS k "
        f"FROM (SELECT cell, count(*) AS cnt FROM l1 GROUP BY cell) g, "
        f"(VALUES {choices}) t(k) "
        f"WHERE t.k * {cell_target} >= g.cnt OR t.k = {KMEANS_K_CHOICES[-1]} "
        f"GROUP BY g.cell)"
    )
    parts.append(
        "s0 AS MATERIALIZED (SELECT s.cell, s.sub, s.c FROM ("
        "  SELECT cell, row_number() OVER (PARTITION BY cell"
        "    ORDER BY sha256('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id"
        "  ) - 1 AS sub, q AS c FROM l1"
        ") s JOIN kd2 ON kd2.cell = s.cell WHERE s.sub < kd2.k)"
    )
    for t in range(1, n_iters + 1):
        parts.append(
            f"b{t} AS MATERIALIZED (SELECT vec_id, cell, q, sub FROM ("
            f"  SELECT l.vec_id, l.cell, l.q, c.sub, row_number() OVER ("
            f"    PARTITION BY l.vec_id ORDER BY {_KM2_DIST}, c.sub) AS rn"
            f"  FROM l1 l JOIN s{t - 1} c ON c.cell = l.cell"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"mm{t} AS MATERIALIZED (SELECT cell, sub, list(m ORDER BY pos) AS c FROM ("
            f"  SELECT cell, sub, pos, CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(*)) AS BIGINT) AS m"
            f"  FROM b{t}, range(1, 65) rr{t}(pos) GROUP BY cell, sub, pos"
            f") GROUP BY cell, sub)"
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT * FROM mm{t} UNION ALL "
            f"SELECT p.cell, p.sub, p.c FROM s{t - 1} p "
            f"WHERE NOT EXISTS (SELECT 1 FROM mm{t} m "
            f"WHERE m.cell = p.cell AND m.sub = p.sub))"
        )
    return ",\n    ".join(parts)


def _kmeans2_codebook_df(spark: SparkSession, sf_dir: str):
    """Session-shared two-level codebook (cents1, PERSISTED codebook
    DataFrame): one training run feeds the assignment spec and any probe
    consumer. The codebook stays a DataFrame end-to-end — the trainer
    returns it persisted + materialized, and the distributed serve path
    (cogroup assignment / broadcast-join probe) never collects a row of
    it (r11 verdict #1)."""

    def build():
        from crdb_changefeed_publisher_spark.operators.linalg import kmeans_train_two_level

        # level-1 cells come from the fused session training pass (r14):
        # one corpus pipeline feeds both this trainer and _kmeans_cents.
        lvl1 = _train_flat_and_level1(spark, sf_dir)[1]
        emb = load_table(spark, sf_dir, "embeddings")
        return kmeans_train_two_level(
            emb, cell_target=KMEANS_CELL_TARGET, n_iters=KMEANS_ITERS,
            scale=KMEANS_SCALE, n=_emb_count(spark, sf_dir), cents1=lvl1,
        )

    return session_pass(spark, "kmeans2_train", sf_dir, build)


def _ivf_two_level_oracle(
    query_mod: int = 25,
    topk: int = 5,
    n_iters: int = KMEANS_ITERS,
    cell_target: int = KMEANS_CELL_TARGET,
) -> str:
    """The full TWO-LEVEL lifecycle as one SQL twin (two-level train ->
    hierarchical index -> coarse probe (c1dial = ceil-sqrt of kdial1) ->
    sub probe ((dist, cell, sub) window capped by p2dial = ceil-sqrt of
    the realized k_total) -> exact cosine rerank). Same construction as
    _ivf_trained_oracle over _kmeans2_ctes; every dial stays an integer
    comparison both engines evaluate identically."""
    return f"""
    WITH {_kmeans2_ctes(n_iters=n_iters, cell_target=cell_target)},
    assign2 AS MATERIALIZED (
        SELECT vec_id, cell, sub FROM (
            SELECT l.vec_id, l.cell, c.sub,
                   row_number() OVER (PARTITION BY l.vec_id
                                      ORDER BY {_KM2_DIST}, c.sub) AS rn
            FROM l1 l JOIN s{n_iters} c ON c.cell = l.cell
        ) WHERE rn = 1
    ),
    c1dial AS MATERIALIZED (
        SELECT MIN(p)::INT AS p FROM range(3, 128) t(p)
        WHERE p * p >= (SELECT k FROM kdial1)
    ),
    p2dial AS MATERIALIZED (
        SELECT MIN(p)::INT AS p FROM range(3, 1024) t(p)
        WHERE p * p >= (SELECT count(*) FROM s{n_iters})
    ),
    qc AS (
        SELECT query_id, cell FROM (
            SELECT v.vec_id AS query_id, c.cid AS cell,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_KM_DIST}, c.cid) AS pr
            FROM v, c{n_iters} c
            WHERE v.vec_id % {query_mod} = 0
        ) WHERE pr <= (SELECT p FROM c1dial)
    ),
    qp AS (
        SELECT query_id, cell, sub FROM (
            SELECT q.query_id, c.cell, c.sub,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_KM_DIST}, c.cell, c.sub) AS pr
            FROM qc q JOIN v ON v.vec_id = q.query_id
                      JOIN s{n_iters} c ON c.cell = q.cell
        ) WHERE pr <= (SELECT p FROM p2dial)
    ),
    ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(q.e, n.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))), 6) AS score
        FROM qp p
        JOIN assign2 a ON a.cell = p.cell AND a.sub = p.sub
                      AND a.vec_id <> p.query_id
        JOIN ve q ON q.vec_id = p.query_id
        JOIN ve n ON n.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {topk}
    """


def _kmeans2_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared PERSISTED two-level index for the tier: the trained
    codebook's corpus assignment written once as the (cell, sub) layout
    (similarity.build_two_level_index — r12 verdict #1), then served from
    disk by every consumer. This is the 100 TB posture the registered row
    exercises: the one corpus-sized exchange is paid at WRITE time; the
    query path reads directory-pruned scans."""

    def build() -> str:
        cents1, codebook = _kmeans2_codebook_df(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        path = session_dir("ann2l", sf_dir.strip("/").replace("/", "_"))
        similarity.build_two_level_index(
            emb, cents1, codebook, path, scale=KMEANS_SCALE
        )
        return path

    return session_pass(spark, "kmeans2_index", sf_dir, build)


@query(
    "embedding_topk_ivf_two_level",
    # PROMOTED in swap round 10 (r11 verdict #2): the seventh-decade
    # two-level lifecycle is the repo's flagship scale result and now
    # has a registered row.
    # Round 13: the row serves FROM THE PERSISTED INDEX (build once per
    # session, directory-pruned scans) so the registered surface is the
    # scale path; the in-memory serve stays pinned row-identical at 2 SFs
    # in tests/test_ann_index_layout.py, and the oracle is unchanged
    # because the layout changes where bytes live, never the answer.
    oracle=_ivf_two_level_oracle(),
    doc="The two-level ANN lifecycle served end-to-end IN-ENGINE from the "
    "PERSISTED (cell, sub)-partitioned index: the seventh-decade "
    "trainer's codebook (session-shared) "
    "assigns the corpus hierarchically and the assignment exchange lands "
    "ON DISK partitioned by coarse cell (build_two_level_index, once per "
    "session); queries rank the k1 ~ sqrt(k_total) COARSE cells by exact "
    "integer distance, keep ceil-sqrt(k1) of them — which PRUNES the "
    "index scan to those cells' directories — rank those cells' subs and "
    "keep ceil-sqrt(k_total) final (cell, sub) probes, then exact cosine "
    "reranks the probed candidates read from the pruned scan. Every dial "
    "and every distance is integer-exact, so the complete lifecycle — "
    "train, persist, prune, probe, rerank — is value-verified against "
    "the unrolled SQL twin "
    "(operators/similarity.py::ivf_topk_two_level).",
)
def embedding_topk_ivf_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    cents1, codebook = _kmeans2_codebook_df(spark, sf_dir)
    return similarity.ivf_topk_two_level(
        queries, None, cents1, codebook, k=5, scale=KMEANS_SCALE,
        from_index_path=_kmeans2_index_path(spark, sf_dir),
    )


@query(
    "dedup_quality_keeper",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (SELECT doc_a, doc_b FROM cand WHERE est_jaccard >= 0.2),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w2.label FROM walk w2 JOIN edges e ON e.s = w2.doc_id
    ),
    cc AS (SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id),
    {_textclf_ctes()}
    SELECT doc_id, cluster_id, margin_int, CAST(rn = 1 AS INT) AS kept FROM (
        SELECT cc.doc_id, cc.cluster_id, m.margin_int,
               row_number() OVER (PARTITION BY cc.cluster_id
                                  ORDER BY m.margin_int, cc.doc_id) AS rn
        FROM cc JOIN tc_margin m ON m.doc_id = cc.doc_id
    )
    """,
    doc="QUALITY-AWARE dedup resolution — what production pipelines "
    "actually do with a duplicate cluster: keep the BEST copy, not the "
    "lowest id. Composition of three verified operators: portable "
    "MinHash+LSH pairs (the session-shared pass) -> alternating-star "
    "connected components (the O(log n) resolution path) -> the frozen "
    "hashed-trigram quality classifier, whose exact int64 margin ranks "
    "copies (lower margin = less repetitive = better; id tiebreak). "
    "Every stage is engine-exact, so even the keeper CHOICE is value-"
    "verified. One extra broadcast-sized join over the keep-list plan; "
    "the margin ranking is a cluster-keyed window over <= n_docs rows.",
)
def dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from crdb_changefeed_publisher_spark.functions import textclf_weights as tw

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = dedup.connected_components_altstar(pairs, docs.select("doc_id"))
    margins = text.hashed_ngram_classifier(
        docs, tw.WEIGHTS_INT, tw.W_DUP_INT, tw.BIAS_INT, tw.N_BUCKETS, tw.SCALE
    ).select("doc_id", "margin_int")
    w = Window.partitionBy("cluster_id").orderBy("margin_int", "doc_id")
    return (
        cc.join(margins, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id", "margin_int",
            (F.col("rn") == 1).cast("int").alias("kept"),
        )
    )


@query(
    "graph_triangle_counts",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    e AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.2
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
    """,
    doc="Per-node TRIANGLE COUNTS over the embedding-cosine similarity "
    "graph (>= 0.2 within the label cell): the clustering-coefficient "
    "primitive that separates clique-like duplicate clusters from weak "
    "transitive chains. The Spark plan is Cohen's degree-ORIENTED scheme "
    "— every edge oriented from its lower-(degree, id) endpoint, so each "
    "triangle is enumerated at exactly one vertex and per-node wedge work "
    "is bounded by the oriented out-degree (O(sqrt(m)) under skew, never "
    "a hub's raw degree); the oracle is the naive a<b<c 3-way self-join, "
    "so the orientation optimization is proven result-preserving "
    "(operators/graph.py::triangle_counts).",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.graph import triangle_counts

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_cosine_pairs(emb, threshold=0.2)
    return triangle_counts(pairs, a_col="vec_a", b_col="vec_b").select(
        F.col("node"), F.col("n_triangles")
    )


def _ivf_trained_oracle(
    cell_target: int = KMEANS_CELL_TARGET,
    n_iters: int = KMEANS_ITERS,
    query_mod: int = 25,
    topk: int = 5,
) -> str:
    """The full trained-IVF lifecycle as one parameterized SQL twin
    (train -> index -> pdial probe -> exact cosine rerank). The registered
    query uses the defaults; tests re-render it at cell_target=2 /
    n_iters=1 to drive kdial to k=2048 on a 4k-vector corpus — the
    value-exact proof that Lloyd, the assignment and the probe path are
    k-GENERIC past the old 1024-cell edge (r9 verdict #2)."""
    assign = f"""assign AS MATERIALIZED (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cid AS cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sq_dist, cid) AS rn
            FROM (
                SELECT v.vec_id, c.cid, {_KM_DIST} AS sq_dist
                FROM v, c{n_iters} c
            )
        ) WHERE rn = 1
    )"""
    return f"""
    WITH {_kmeans_ctes(n_iters=n_iters, cell_target=cell_target)},
    {assign},
    pdial AS MATERIALIZED (
        SELECT MIN(p)::INT AS p FROM range(3, 128) t(p)
        WHERE p * p >= (SELECT k FROM kdial)
    ),
    qp AS (
        SELECT query_id, cid FROM (
            SELECT v.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_KM_DIST}, c.cid) AS pr
            FROM v, c{n_iters} c
            WHERE v.vec_id % {query_mod} = 0
        ) WHERE pr <= (SELECT p FROM pdial)
    ),
    ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(q.e, n.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(n.e, n.e))), 6) AS score
        FROM qp p
        JOIN assign a ON a.cluster = p.cid AND a.vec_id <> p.query_id
        JOIN ve q ON q.vec_id = p.query_id
        JOIN ve n ON n.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {topk}
    """


@query(
    "embedding_topk_ivf_trained",
    oracle=_ivf_trained_oracle(),
    doc="The COMPLETE ANN lifecycle value-verified: cells trained in-engine "
    "(exact-arithmetic Lloyd, session-shared), corpus "
    "indexed by exact int64 nearest-centroid assignment, queries probe "
    "their 3 nearest cells by the SAME exact integer distance, exact "
    "cosine ranks only the probed cells' vectors — no frozen-literal "
    "codebook anywhere. Candidates come from an equi-join on the cell id; "
    "at 100 TB the assignment is the write-time cell-partitioned layout "
    "and the probe prunes partitions at the scan "
    "(operators/similarity.py::ivf_topk_trained). The cell count SELF-"
    "SIZES from a corpus count (linalg.kmeans_k_for: smallest power-of-"
    "two k with k*250 >= n; the oracle's kdial CTE derives the identical "
    "k — the srp_bits_for convention) so the per-query candidate budget "
    "stays ~n_probe*250 at every scale: the own scaling curve measured "
    "the fixed k=8 dial at 20.7x per decade from cell fill, 2.2x after "
    "self-sizing. The probe count ALSO self-sizes (linalg.n_probe_for: "
    "smallest p >= 3 with p*p >= k, i.e. ~sqrt(k); the oracle's pdial "
    "CTE derives the identical p from kdial) — a fixed n_probe=3 was "
    "the r8 `weak`: probed fraction fell a decade per decade and "
    "measured recall@5 fell with it (0.74 -> 0.68 -> 0.21). The sf1 "
    "sweep (docs/SCALE.md) shows ISOTROPIC recall is a function of scan "
    "fraction alone — the information limit of cell-blocking on iid "
    "noise — so p ~ sqrt(k) is the chosen frontier point: candidates "
    "grow sqrt(n), fraction decays 1/sqrt(n) instead of 1/n. Measured "
    "recall@5 vs brute force: 0.74 at sf0.01 (3/8 cells), 0.68 at "
    "sf0.1 (3/8), 0.47 at sf1 (12/128 = 9.4%% probed, was 0.21; pinned "
    "floor 0.45 in tests) on the isotropic fixture — and 1.000 at both "
    "2k and 20k points on the 16-cluster fixture with the SAME dials "
    "(level recall at sqrt-cost wherever the corpus has structure; "
    "tests pin both). kmeans_k_for now REFUSES past its largest "
    "choice's capacity (the dedup_simhash saturation-guard convention) "
    "instead of silently clamping back to n/1024 cell growth.",
)
def embedding_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    # r13: serve FROM THE PERSISTED cell-partitioned index (built once per
    # session in the _shared:kmeans_train pass, same trade the two-level
    # row made in the r13 mid-build) — the corpus assignment pass leaves
    # the query path; answers are row-identical (the index IS the
    # assignment's output; pinned at 2 SFs in tests/test_ann_index_layout)
    # and the oracle is unchanged.
    return similarity.ivf_topk_trained(
        queries,
        None,
        centroids_int=_kmeans_cents(spark, sf_dir),
        k=5,
        n_probe=None,  # self-sized: linalg.n_probe_for(k), oracle pdial twin
        scale=KMEANS_SCALE,
        from_index_path=_kmeans_index_path(spark, sf_dir),
    )


@query(
    "doc_shuffle_layout",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, 'shuffle-v1:' || CAST(doc_id AS VARCHAR) AS s FROM documents
    ),
    p AS (
        SELECT doc_id, {_seeded_hash_fold('s')} AS pri FROM seeded
    ),
    r AS (
        SELECT doc_id, row_number() OVER (ORDER BY pri, doc_id) AS pos FROM p
    )
    SELECT doc_id, pos, CAST((pos - 1) % 16 AS INT) AS shard FROM r
    """,
    doc="Deterministic global training-order shuffle + round-robin sharding: "
    "global position via the TWO-PHASE row_number over the seeded sha2 "
    "priority (range shuffle of (id, priority) pairs + broadcast offsets — "
    "the oracle's single ORDER BY window would single-partition 100 TB), "
    "shard sizes balanced to within one row, layout a pure function of "
    "(seed, ids) (operators/curate.py::shuffle_layout).",
)
def doc_shuffle_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    return curate.shuffle_layout(load_table(spark, sf_dir, "documents"))


@query(
    "domain_mixture_sample",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH toks AS (
        SELECT lang,
               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS domain_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(domain_tokens) AS t FROM toks),
    scaled AS (
        SELECT lang, domain_tokens / t AS natural_share,
               pow(domain_tokens / t, 0.5) AS s
        FROM toks CROSS JOIN tot
    ),
    z AS (SELECT sum(s) AS z FROM scaled),
    rates AS (
        SELECT lang, round(least(1.0, (s / z) / natural_share), 6) AS rate
        FROM scaled CROSS JOIN z
    ),
    seeded AS (
        SELECT doc_id, lang, 'sample-v1:' || CAST(doc_id AS VARCHAR) AS s
        FROM documents
    ),
    kept AS (
        SELECT seeded.doc_id, seeded.lang
        FROM seeded JOIN rates USING (lang)
        WHERE {_seeded_hash_fold('s')} % 1000000
              < CAST(floor(rate * 1000000) AS BIGINT)
    )
    SELECT d.lang, count(*) AS n_docs, count(k.doc_id) AS n_kept,
           round(count(k.doc_id) / count(*), 4) AS realized_rate
    FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.lang
    """,
    doc="Temperature-scaled mixture weights REALIZED as a deterministic "
    "document sample: mixture_weights(alpha=0.5) rates broadcast-joined to "
    "the corpus, kept iff seeded-hash bucket < rate — per-row codegen, no "
    "window, the 100 TB rebalancing shape "
    "(operators/curate.py::rate_sample). Reports per-language kept counts "
    "and the realized rate vs the target.",
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    docs = load_table(spark, sf_dir, "documents")
    rates = curate.mixture_weights(docs, alpha=0.5).select("lang", "sample_rate")
    kept = (
        curate.rate_sample(docs, rates)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(kept, "lang", "left")
        .na.fill({"n_kept": 0})
        .select(
            "lang",
            "n_docs",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 4).alias("realized_rate"),
        )
    )


def _pii_pat(name: str) -> str:
    return text.PII_PATTERNS[name]


@query(
    "doc_pii_scrub",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    || ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS t
        FROM documents
    ),
    scrub AS (
        SELECT doc_id,
               len(regexp_extract_all(t, '{_pii_pat("email")}')) AS n_email,
               len(regexp_extract_all(t, '{_pii_pat("ipv4")}')) AS n_ipv4,
               len(regexp_extract_all(t, '{_pii_pat("phone")}')) AS n_phone,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(t, '{_pii_pat("email")}', '<EMAIL>', 'g'),
                       '{_pii_pat("ipv4")}', '<IPV4>', 'g'),
                   '{_pii_pat("phone")}', '<PHONE>', 'g') AS clean_text
        FROM injected
    )
    SELECT doc_id, n_email, n_ipv4, n_phone,
           n_email + n_ipv4 + n_phone AS n_pii,
           clean_text, length(clean_text) AS redacted_len
    FROM scrub
    """,
    doc="PII detection + redaction over the corpus with deterministic "
    "synthetic PII injected per doc id (the fixture text contains none): "
    "per-pattern match counts and global placeholder redaction, one "
    "per-row regexp codegen pass, zero shuffles "
    "(operators/text.py::pii_scrub). Patterns are the portable "
    "RE2-and-Java subset so the identical regexes run on both engines.",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return text.pii_scrub(injected)


@query(
    "corpus_curation_report",
    oracle="""
    WITH canon AS (SELECT text, min(doc_id) AS canon_id FROM documents GROUP BY text),
    words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
                                     i -> array_to_string(w[i:i+7], ' '))) AS g
        FROM words
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    contam AS (
        SELECT grams.doc_id,
               round(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) / count(*), 4)
                   AS contamination
        FROM grams LEFT JOIN bench b ON b.g = grams.g
        GROUP BY 1
    ),
    scored AS (
        SELECT doc_id, lang, n_words,
               round(0.4 * least(n_chars / 500.0, 1.0)
                     + 0.3 * (CASE WHEN awl >= 3 AND awl <= 10 THEN 1.0 ELSE 0.5 END)
                     + 0.3 * greatest(0.0, 1.0 - punct / greatest(n_words, 1)),
                     4) AS quality
        FROM (
            SELECT doc_id, lang, length(text) AS n_chars,
                   len(string_split(trim(text), ' ')) AS n_words,
                   length(replace(trim(text), ' ', ''))
                       / len(string_split(trim(text), ' ')) AS awl,
                   (length(text) - length(replace(text, '.', ''))) / 1.0
                     + (length(text) - length(replace(text, ',', ''))) / 1.0 AS punct
            FROM documents
        )
    ),
    kept AS (
        SELECT d.doc_id, d.lang, s.n_words
        FROM documents d
        JOIN canon c ON c.text = d.text AND c.canon_id = d.doc_id
        JOIN scored s ON s.doc_id = d.doc_id
        LEFT JOIN contam ct ON ct.doc_id = d.doc_id
        WHERE coalesce(ct.contamination, 0.0) <= 0.05
          AND s.quality >= 0.2
          AND (d.doc_id % 10) < (CASE WHEN d.lang = 'en' THEN 5 ELSE 10 END)
    ),
    before AS (SELECT lang, count(*) AS n_docs_in FROM documents GROUP BY lang),
    after AS (
        SELECT lang, count(*) AS n_docs_kept,
               CAST(sum(n_words) AS BIGINT) AS tokens_kept
        FROM kept GROUP BY lang
    )
    SELECT b.lang, b.n_docs_in,
           coalesce(a.n_docs_kept, 0) AS n_docs_kept,
           coalesce(a.tokens_kept, 0) AS tokens_kept,
           round(coalesce(a.n_docs_kept, 0) / b.n_docs_in, 4) AS keep_rate
    FROM before b LEFT JOIN after a ON a.lang = b.lang
    """,
    doc="The flagship end-to-end curation composition (r4 verdict #5, now "
    "driver-verified): exact-dedup (min-id canonical per text) -> benchmark "
    "decontamination (word-8-gram overlap vs the broadcast benchmark set, "
    "gate at 5%) -> composite quality gate (>= 0.2) -> deterministic "
    "stratified language rebalancing (en keeps 5/10 by doc_id mod — no "
    "rand(), so 100 TB runs are resumable/auditable), reduced to the "
    "per-language before/after report a curation run publishes. ONE Spark "
    "plan: the text column is scanned once, gates compose as filters "
    "(operators/curate.py). The oracle replays every gate and the report "
    "arithmetic in SQL.",
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    docs = load_table(spark, sf_dir, "documents")
    curated = curate.curate_corpus(docs, contamination=_contamination(spark, sf_dir))
    return curate.curation_report(docs, curated).select(
        "lang",
        "n_docs_in",
        "n_docs_kept",
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
        "keep_rate",
    )


@query(
    "token_vocab_coverage",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ),
    counts AS (SELECT word, count(*) AS n_occurrences FROM words GROUP BY word),
    tot AS (SELECT sum(n_occurrences) AS t FROM counts),
    ranked AS (
        SELECT word, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, word) AS rnk
        FROM counts
    )
    SELECT word, n_occurrences, rnk,
           round(sum(n_occurrences) OVER (ORDER BY rnk) / t, 6) AS coverage
    FROM ranked CROSS JOIN tot
    WHERE rnk <= 100
    """,
    doc="Tokenizer-prep vocabulary build: top-100 corpus words by frequency "
    "with global rank (TWO-PHASE rank — functions/ranks.py, no single-"
    "partition window over the vocabulary) and cumulative corpus coverage "
    "(the vocab-size-selection curve). Final cumsum runs over exactly the "
    "100 output rows (operators/text.py::token_vocab).",
)
def token_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_vocab(docs, top_v=100)


# DuckDB twin of operators/sketches.py::kmv_hash — the first 13 hex digits
# of sha2-256 over 'kmv-v1:' || value, folded to a BIGINT in [0, 2^52)
# (13-digit variant of _seeded_hash_fold; 52 bits keep the KMV estimator
# in exact int64 arithmetic on both engines).
_KMV_FOLD52 = """list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 14),
                                    i -> CAST(strpos('0123456789abcdef',
                                                     substr(sha256('kmv-v1:' || text), i, 1)) - 1
                                              AS BIGINT))),
        (h, c) -> h * 16 + c)"""


@query(
    "kmv_shard_distinct",
    oracle=f"""
    WITH base AS (SELECT doc_id % 4 AS shard, {_KMV_FOLD52} AS h FROM documents),
    n AS (SELECT shard, count(*) AS n_rows FROM base GROUP BY shard),
    d AS (SELECT DISTINCT shard, h FROM base),
    r AS (SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rk FROM d),
    per AS (
        SELECT shard,
               CASE WHEN count(*) < 64 THEN count(*)
                    ELSE 63 * 4503599627370496
                         // greatest(max(CASE WHEN rk = 64 THEN h END), 1) END AS est_distinct
        FROM r WHERE rk <= 64 GROUP BY shard),
    gd AS (SELECT DISTINCT h FROM base),
    gr AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM gd),
    g AS (SELECT CAST(-1 AS INT) AS shard,
                 (SELECT CAST(sum(n_rows) AS BIGINT) FROM n) AS n_rows,
                 CASE WHEN count(*) < 64 THEN count(*)
                      ELSE 63 * 4503599627370496
                           // greatest(max(CASE WHEN rk = 64 THEN h END), 1) END AS est_distinct
          FROM gr WHERE rk <= 64)
    SELECT CAST(shard AS INT) AS shard, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(est_distinct AS BIGINT) AS est_distinct
    FROM per JOIN n USING (shard)
    UNION ALL SELECT shard, n_rows, CAST(est_distinct AS BIGINT) FROM g
    ORDER BY shard
    """,
    doc="KMV (bottom-k) distinct sketch, the theta-sketch complement to the "
    "HLL family: per-shard distinct-content estimates plus the global "
    "union row (shard = -1) computed from the four sketch ARRAYS, never by "
    "rescanning the corpus. Unlike HLL, the portable sha2-derived 52-bit "
    "hash and pure-int64 estimator make every value reproducible by the "
    "SQL oracle bit-for-bit — an exactness-verified approximate operator "
    "(operators/sketches.py::kmv_shard_distinct_report; estimator "
    "Bar-Yossef et al. 2002, rel std err ~1/sqrt(k-2) at k=64).",
)
def kmv_shard_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import sketches

    return sketches.kmv_shard_distinct_report(load_table(spark, sf_dir, "documents"))


@query(
    "doc_duplicate_spans",
    # r7 swap promotion: the Lee-et-al exact-substring dedup signal earns a
    # driver row (one digest shuffle, no join — shape worth pinning)
    retired=True,  # r10 swap round 8: the MEASURE-only span report is
    # subsumed by doc_exact_substring_dedup (the REWRITE — reports
    # n_removed_words/removed_fraction AND the excised text, same gram
    # core); doc_fuzzy_linkage_exact promoted in trade
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
                                     i -> array_to_string(w[i:i+7], ' '))) AS g
        FROM words
    ),
    f AS (
        SELECT doc_id, count(*) OVER (PARTITION BY g) AS n_docs FROM grams
    ),
    s AS (
        SELECT doc_id, count(*) AS n_grams,
               sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM f GROUP BY 1
    )
    SELECT doc_id, n_grams,
           CAST(n_dup AS BIGINT) AS n_dup_grams,
           round(n_dup / n_grams, 4) AS dup_fraction,
           (n_dup / n_grams) >= 0.5 AS mostly_duplicated
    FROM s
    """,
    doc="Per-document duplicated-span mass (exact-substring-dedup signal, "
    "Lee et al. 2021, at word-8-gram granularity): the fraction of each "
    "document's distinct 8-grams that appear in at least one other "
    "document, with a mostly_duplicated flag at 50%. One shuffle of "
    "32-byte gram digests for the per-gram document-frequency window + "
    "one per-doc aggregate — no join, no second text scan "
    "(operators/text.py::duplicate_span_report).",
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.duplicate_span_report(load_table(spark, sf_dir, "documents"))


@query(
    "kmv_shard_overlap",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 7000001, text FROM documents WHERE doc_id % 10 = 0
    ),
    base AS (SELECT doc_id % 4 AS shard, {_KMV_FOLD52.replace("sha256('kmv-v1:' || text)", "sha256('kmv-v1:' || text)")} AS h FROM corpus),
    d AS (SELECT DISTINCT shard, h FROM base),
    r AS (SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rk FROM d),
    topk AS (SELECT shard, h, rk FROM r WHERE rk <= 64),
    th AS (
        SELECT shard,
               CASE WHEN count(*) < 64 THEN 4503599627370496
                    ELSE max(CASE WHEN rk = 64 THEN h END) END AS theta,
               CASE WHEN count(*) < 64 THEN count(*)
                    ELSE 63 * 4503599627370496
                         // greatest(max(CASE WHEN rk = 64 THEN h END), 1) END AS est
        FROM topk GROUP BY shard),
    pairs AS (
        SELECT a.shard AS shard_a, b.shard AS shard_b,
               a.est AS est_a, b.est AS est_b, least(a.theta, b.theta) AS th_p
        FROM th a JOIN th b ON a.shard < b.shard),
    common AS (
        SELECT p.shard_a, p.shard_b, count(*) AS m
        FROM pairs p
        JOIN topk ta ON ta.shard = p.shard_a AND ta.h < p.th_p
        JOIN topk tb ON tb.shard = p.shard_b AND tb.h = ta.h
        GROUP BY 1, 2)
    SELECT p.shard_a AS shard_a, p.shard_b AS shard_b,
           CAST(p.est_a AS BIGINT) AS est_a, CAST(p.est_b AS BIGINT) AS est_b,
           CAST(coalesce(c.m, 0) * 4503599627370496 // greatest(p.th_p, 1) AS BIGINT)
               AS est_overlap
    FROM pairs p LEFT JOIN common c ON c.shard_a = p.shard_a AND c.shard_b = p.shard_b
    ORDER BY 1, 2
    """,
    doc="Pairwise shard-overlap matrix from KMV sketches (theta-style "
    "DIRECT intersection: retained hashes below the pair's theta, scaled "
    "by the sampling rate — not HLL's inclusion-exclusion over three "
    "noisy unions), over the documents corpus with deterministic injected "
    "cross-shard duplicates (every 10th doc copied into the next shard). "
    "Every estimate is engine-exact int64 arithmetic; n^2/2 pairs join "
    "only k-element sketch arrays "
    "(operators/sketches.py::kmv_shard_overlap_matrix).",
)
def kmv_shard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 7000001).alias("doc_id"), "text"
    )
    return sketches.kmv_shard_overlap_matrix(docs.unionByName(dups))


@query(
    "corpus_lang_drift",
    oracle="""
    WITH base AS (SELECT lang AS dim, count(*) AS n_base FROM documents GROUP BY 1),
    cur AS (
        SELECT lang AS dim, count(*) AS n_cur FROM documents
        WHERE NOT (lang = 'en' AND doc_id % 3 = 0) GROUP BY 1
    ),
    j AS (
        SELECT coalesce(b.dim, c.dim) AS dim,
               coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
        FROM base b FULL OUTER JOIN cur c ON b.dim = c.dim
    ),
    t AS (SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur, count(*) AS n_dims FROM j)
    SELECT dim, n_base, n_cur,
           round((n_base + 0.5) / (t_base + 0.5 * n_dims), 6) AS share_base,
           round((n_cur + 0.5) / (t_cur + 0.5 * n_dims), 6) AS share_cur,
           round(((n_cur + 0.5) / (t_cur + 0.5 * n_dims)
                  - (n_base + 0.5) / (t_base + 0.5 * n_dims))
                 * ln(((n_cur + 0.5) / (t_cur + 0.5 * n_dims))
                      / ((n_base + 0.5) / (t_base + 0.5 * n_dims))), 6) AS psi
    FROM j CROSS JOIN t
    ORDER BY dim
    """,
    doc="Categorical distribution-drift monitor (PSI) between two corpus "
    "snapshots over the language dimension — here the full corpus vs a "
    "deterministically downsampled one (every 3rd English doc removed), "
    "the composition shift a per-ingest monitor must catch. One partial-"
    "agg count shuffle per snapshot to ~cardinality(lang) rows, then "
    "broadcast totals; per-value PSI contributions sum to the standard "
    "statistic (operators/quality.py::distribution_drift_report).",
)
def corpus_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.quality import distribution_drift_report

    docs = load_table(spark, sf_dir, "documents")
    current = docs.filter(~((F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)))
    return distribution_drift_report(docs, current, "lang")


@query(
    "source_scorecard",
    # promoted in the r8 registry swap (r7 verdict #4): the daily
    # crawl-inclusion governance row, in place of the pivot microquery
    oracle="""
    WITH q AS (
        SELECT source, lang,
               round(0.4 * least(length(text) / 500.0, 1.0)
                     + 0.3 * (CASE WHEN length(replace(trim(text), ' ', ''))
                                        / len(string_split(trim(text), ' ')) >= 3
                                    AND length(replace(trim(text), ' ', ''))
                                        / len(string_split(trim(text), ' ')) <= 10
                                   THEN 1.0 ELSE 0.5 END)
                     + 0.3 * greatest(0.0, 1.0 -
                           ((length(text) - length(replace(text, '.', ''))) / 1.0
                            + (length(text) - length(replace(text, ',', ''))) / 1.0)
                           / greatest(len(string_split(trim(text), ' ')), 1)),
                     4) AS q,
               len(string_split(trim(text), ' ')) AS nt,
               sha256(text) AS ck
        FROM documents
    ),
    f AS (SELECT *, count(*) OVER (PARTITION BY ck) AS n_copies FROM q),
    s AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               round(avg(q), 4) AS avg_quality,
               round(avg(CASE WHEN n_copies > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_rate,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM f GROUP BY 1
    )
    SELECT source, n_docs, n_tokens, avg_quality, dup_rate, n_langs,
           CASE WHEN avg_quality >= 0.7 AND dup_rate <= 0.2 THEN 'keep'
                WHEN avg_quality >= 0.5 THEN 'review'
                ELSE 'drop' END AS verdict
    FROM s ORDER BY source
    """,
    doc="Per-SOURCE curation scorecard (the crawl-inclusion decision "
    "table): doc/token volume, mean composite quality, corpus-duplicate "
    "rate (fraction of the source's docs whose exact content appears "
    "more than once in the whole corpus), language breadth, and a "
    "thresholded keep/review/drop verdict on ROUNDED values. One "
    "32-byte-digest shuffle for the duplicate flags + a "
    "~cardinality(source) partial-agg "
    "(operators/curate.py::source_scorecard).",
)
def source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators.curate import source_scorecard as _sc

    return _sc(load_table(spark, sf_dir, "documents"))


@query(
    "split_leakage_pairs",
    # promoted in the r8 registry swap (r7 verdict #4): the eval-leakage
    # governance row, in place of the distinct-agg microquery
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS (SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.2),
    lab AS (
        SELECT doc_id,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     {_seeded_hash_fold("'split-v1:' || CAST(doc_id AS VARCHAR)")}
                     % 10000 AS b
              FROM documents)
    )
    SELECT p.doc_a, p.doc_b,
           least(la.split, lb.split) AS split_a,
           greatest(la.split, lb.split) AS split_b,
           p.est_jaccard
    FROM pairs p
    JOIN lab la ON la.doc_id = p.doc_a
    JOIN lab lb ON lb.doc_id = p.doc_b
    WHERE la.split <> lb.split
    ORDER BY p.doc_a, p.doc_b
    """,
    doc="EVAL-SET LEAKAGE audit: near-dup pairs that CROSS the "
    "train/val/test boundary (near-dups have different ids, so the "
    "id-hash split cannot keep them together — a train doc nearly "
    "identical to an eval doc inflates eval scores). Consumes the "
    "SHARED persisted MinHash pair table (_shared:minhash_pairs) and "
    "the deterministic hash_split labels: two label joins onto the "
    "pair list, never a corpus rescan "
    "(operators/curate.py::split_leakage_report).",
)
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    docs = load_table(spark, sf_dir, "documents")
    return curate.split_leakage_report(docs, _minhash_pairs(spark, sf_dir))


# DuckDB twin of the quantile-sketch row hash (operators/sketches.py::
# quantile_sketch): 13 sha256 hex digits of 'qsk-v1:' || id, folded to a
# BIGINT in [0, 2^52) — same construction as _KMV_FOLD52, different seed.
def _qsk_fold52_sql(expr: str) -> str:
    return f"""list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 14),
                                    i -> CAST(strpos('0123456789abcdef',
                                                     substr(sha256('qsk-v1:' || {expr}), i, 1)) - 1
                                              AS BIGINT))),
        (h, c) -> h * 16 + c)"""


@query(
    "order_price_quantile_sketch",
    # r9 swap round 6 PROMOTION: the KB-sized mergeable rank sketch is the
    # 100 TB percentile path (r8 verdict #3); order_price_percentiles
    # (the exact counterpart it subsumes) retired in trade
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DOUBLE) AS v,
               {_qsk_fold52_sql('CAST(o_orderkey AS VARCHAR)')} AS h
        FROM orders
    ),
    n AS (SELECT o_orderpriority, count(*) AS n_rows FROM base GROUP BY 1),
    rk AS (
        SELECT o_orderpriority, v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY h, v) AS r
        FROM base
    ),
    sv AS (
        SELECT o_orderpriority, list_sort(list(v)) AS vals, count(*) AS ns
        FROM rk WHERE r <= 512 GROUP BY 1
    )
    SELECT sv.o_orderpriority, n.n_rows,
           vals[CAST((2500 * (ns - 1)) // 10000 AS INT) + 1] AS p25,
           vals[CAST((5000 * (ns - 1)) // 10000 AS INT) + 1] AS p50,
           vals[CAST((7500 * (ns - 1)) // 10000 AS INT) + 1] AS p75,
           vals[CAST((9000 * (ns - 1)) // 10000 AS INT) + 1] AS p90
    FROM sv JOIN n USING (o_orderpriority)
    """,
    doc="Mergeable DETERMINISTIC quantile sketch (the KB-sized swap for "
    "exact per-group percentiles at 100 TB): bottom-512 rows by seeded "
    "52-bit id-hash = a uniform without-replacement sample that is a pure "
    "function of (seed, ids), so sketch AND estimates are bit-exact in "
    "both engines (the KMV tradition, extended from distinct-counting to "
    "rank statistics; ~1/sqrt(k) rank error, merge = distinct+truncate "
    "like kmv_union). Estimates use type-7-FLOOR selection on the "
    "value-sorted sample — an actual data value, no interpolation, no "
    "float-half boundary (operators/sketches.py::quantile_sketch).",
)
def order_price_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import sketches

    orders = load_table(spark, sf_dir, "orders")
    sk = sketches.quantile_sketch(
        orders, "o_totalprice", "o_orderkey", ["o_orderpriority"], k=512
    )
    return sketches.quantile_sketch_estimate(
        sk, {"p25": 2500, "p50": 5000, "p75": 7500, "p90": 9000}
    )


@query(
    "word_heavy_hitters",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ),
    c AS (SELECT word, count(*) AS cnt FROM words
          WHERE word IS NOT NULL GROUP BY 1),
    n AS (SELECT sum(cnt) AS tot FROM c)
    SELECT word, cnt, round(cnt / CAST(tot AS DOUBLE), 6) AS share
    FROM c CROSS JOIN n
    WHERE cnt * 50 > tot * 1
    """,
    doc="EXACT heavy hitters over unbounded key cardinality (frequent-"
    "token detection for tokenizer/contamination triage): every word "
    "strictly above 1/50 of the corpus, exact count + share, via the "
    "two-pass Misra-Gries scheme — freqItems candidate superset (<= 50 "
    "plan literals, scan-side drop), then an exact recount whose shuffle "
    "is candidate-sized, never vocabulary-sized. Integer threshold "
    "cnt*50 > n*1 on both engines "
    "(operators/sketches.py::exact_heavy_hitters).",
)
def word_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )
    return sketches.exact_heavy_hitters(words, "word", num=1, den=50)


@query(
    "doc_exact_substring_dedup",
    # r10 swap round 7 PROMOTION: the REWRITE half of dedup — excision
    # stays linear (output bounded by one row per doc) on the saturated
    # sf10 corpus where the pair-join dedups hit their quadratic guard
    oracle=(_EXSUB_ORACLE := """
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    posw AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> {'pos': i, 'word': w[i],
                            'gram': CASE WHEN i + 7 <= len(w)
                                    THEN array_to_string(w[i:i+7], ' ')
                                    END})) AS u
        FROM words
    ),
    flat AS (
        SELECT doc_id, u.pos AS pos, u.word AS word, u.gram AS gram
        FROM posw
    ),
    occ AS (
        SELECT *, count(*) OVER (PARTITION BY gram) AS freq FROM flat
    ),
    cov AS (
        SELECT *, max(CASE WHEN gram IS NOT NULL AND freq >= 2
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
        FROM occ
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(covered) AS BIGINT) AS n_removed_words,
           round(sum(covered) / count(*), 4) AS removed_fraction,
           coalesce(array_to_string(list(word ORDER BY pos)
                                    FILTER (WHERE covered = 0), ' '),
                    '') AS kept_text
    FROM cov GROUP BY doc_id ORDER BY doc_id
    """),
    doc="ExactSubstr DEDUPLICATION (Lee et al. 2022 §4.1): rewrite every "
    "document with each duplicated >=8-word span excised — the removal "
    "step duplicate_span_report only measures. A position is removed when "
    "any 8-gram covering it occurs >= 2 times corpus-wide (all "
    "occurrences, within-doc repeats included); overlapping runs merge "
    "into maximal spans via per-position coverage. kept_text is "
    "value-compared, so the excision itself is oracle-exact. One lead-"
    "window gram build, one count window over 32-byte digests (surrogate "
    "keys keep gram-less tail rows out of a NULL-key skew partition), one "
    "coverage window, one per-doc rebuild "
    "(operators/text.py::exact_substring_excise).",
)
def doc_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.exact_substring_excise(load_table(spark, sf_dir, "documents"))


@query(
    "doc_exact_substring_dedup_sliced",
    retired=True,  # the disk-bounded variant of the registered row,
    # under the SAME oracle (value-identical is the contract, so one
    # twin verifies both pass structures every round — r10 verdict #3)
    oracle=_EXSUB_ORACLE,
    doc="The doc-sliced ExactSubstr rewrite (operators/text.py::"
    "exact_substring_excise_sliced) under the registered row's exact "
    "oracle: pass A counts gram digests corpus-wide (Arrow-batched "
    "sha256 == the JVM digests byte-for-byte), pass B rewrites per doc "
    "slice against the persisted duplicated-digest set — peak shuffle "
    "disk bounded by the slice, not the corpus (the 5M-doc tier that "
    "one-shot cannot run on one box completes in 745 s; docs/SCALE.md "
    "'ExactSubstr past the single-box disk boundary').",
)
def doc_exact_substring_dedup_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.exact_substring_excise_sliced(
        load_table(spark, sf_dir, "documents"), n_slices=3
    )


@query(
    "doc_dsir_sample",
    # r10 swap round 7 PROMOTION: data SELECTION — a family the registry
    # lacked entirely (importance resampling toward a target corpus)
    oracle=f"""
    WITH tgt AS (SELECT text FROM documents WHERE lang = 'en'),
    pool AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
    tg AS (
        SELECT ({_poly_hash_sql('g')}) % 1024 AS bucket FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS g
            FROM (SELECT string_split(trim(text), ' ') AS w FROM tgt))
    ),
    tc AS (SELECT bucket, count(*) AS ct FROM tg GROUP BY 1),
    pg AS (
        SELECT doc_id, ({_poly_hash_sql('g')}) % 1024 AS bucket FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i+1])) AS g
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM pool))
    ),
    pc AS (SELECT bucket, count(*) AS cp FROM pg GROUP BY 1),
    wt AS (SELECT pc.bucket AS bucket,
                  ((coalesce(tc.ct, 0) + 1) * 1048576) // (pc.cp + 1) AS s
           FROM pc LEFT JOIN tc USING (bucket)),
    ds AS (SELECT doc_id, count(*) AS n_bigrams, sum(s) // count(*) AS score
           FROM pg JOIN wt USING (bucket) GROUP BY doc_id),
    allp AS (SELECT p.doc_id,
                    coalesce(ds.n_bigrams, 0) AS n_bigrams,
                    coalesce(ds.score, 1048576) AS score
             FROM pool p LEFT JOIN ds USING (doc_id)),
    seeded AS (SELECT *, 'dsir-v1:' || CAST(doc_id AS VARCHAR) AS s2 FROM allp),
    pri AS (
        SELECT doc_id, n_bigrams, score,
               round(-ln(((({_seeded_hash_fold('s2')}) // 256) + 0.5)
                         / {float(2**52)!r})
                     / (score + 1), 10) AS priority
        FROM seeded)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(score AS BIGINT) AS score, priority
    FROM pri ORDER BY priority, doc_id LIMIT 200
    """,
    doc="DSIR data selection (Xie et al. 2023): pick from the raw pool "
    "(non-English docs) the 200 documents whose hashed word-bigram bag "
    "most resembles the English target corpus — integer-exact bucket "
    "affinities ((ct+1)<<20 div (cp+1), add-one smoothing, 1024 buckets "
    "of the portable poly hash), per-doc integer-mean score, then the "
    "seeded Efraimidis-Spirakis race with weight = score + 1 (the "
    "deterministic Gumbel-top-k analog). Two KB-sized bucket aggs + one "
    "broadcast + one per-doc agg; featureless docs score exactly neutral "
    "(operators/curate.py::dsir_resample_k).",
)
def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crdb_changefeed_publisher_spark.operators import curate

    docs = load_table(spark, sf_dir, "documents")
    out = curate.dsir_resample_k(
        docs.filter(F.col("lang") != "en"),
        docs.filter(F.col("lang") == "en"),
        k=200,
    )
    return out.select("doc_id", "n_bigrams", "score", "priority")


@query(
    "doc_decontaminate_excise",
    retired=True,  # registry at the 50 cap; oracle-verified in pytest
    oracle="""
    WITH bwords AS (
        SELECT string_split(trim(text), ' ') AS w FROM documents
        WHERE doc_id % 97 = 0
    ),
    bench AS (
        SELECT DISTINCT unnest(list_transform(
                   range(1, greatest(len(w) - 7, 0) + 1),
                   i -> array_to_string(w[i:i+7], ' '))) AS g
        FROM bwords
    ),
    words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
        WHERE doc_id % 97 <> 0
    ),
    posw AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> {'pos': i, 'word': w[i],
                            'gram': CASE WHEN i + 7 <= len(w)
                                    THEN array_to_string(w[i:i+7], ' ')
                                    END})) AS u
        FROM words
    ),
    flat AS (
        SELECT doc_id, u.pos AS pos, u.word AS word, u.gram AS gram
        FROM posw
    ),
    hit AS (
        SELECT flat.*, CASE WHEN b.g IS NULL THEN 0 ELSE 1 END AS dup_start
        FROM flat LEFT JOIN bench b ON flat.gram = b.g
    ),
    cov AS (
        SELECT *, max(dup_start)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
        FROM hit
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(covered) AS BIGINT) AS n_removed_words,
           round(sum(covered) / count(*), 4) AS removed_fraction,
           coalesce(array_to_string(list(word ORDER BY pos)
                                    FILTER (WHERE covered = 0), ' '),
                    '') AS kept_text
    FROM cov GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Decontamination by EXCISION: scrub from every training document "
    "each >= 8-word span overlapping the eval benchmark (the doc_id % 97 "
    "holdout, the benchmark_contamination convention) and KEEP the rest — "
    "real pipelines remove the leaked passage, not the document; the "
    "excised kept_text is value-compared. Benchmark grams reduce to "
    "distinct 32-byte digests and BROADCAST onto the corpus's positional "
    "gram stream (the scan-sized side never shuffles for the probe), "
    "then the shared coverage window + per-doc rebuild. Doubles as the "
    "incremental scrub: the gram source can be any persisted index "
    "(operators/text.py::contaminated_span_excise).",
)
def doc_decontaminate_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.contaminated_span_excise(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )
