"""Realism-corpus specs: near-dup dedup value-verified on data shaped like
real corpora, with RECALL certified against planted ground truth.

Every other dedup row runs on the driver fixtures, whose 31-word vocabulary
makes the qualifying-pair set itself quadratic at scale (the measured
saturation the guards refuse on; docs/SCALE.md "Fifth decade"). Round 10
measured the MinHash family on a 50k-word Zipfian corpus with planted
clone pairs (tools/near_dup_realism.py): linear across three decades with
FLAT 0.89 banded recall. This module promotes that corpus from measurement
tool to standing verified fixture (r10 verdict #2): the specs below run on
the 500k-doc tier — the sf10-scale corpus, 100x the driver fixture — and
are value-verified against full DuckDB twins every round.

The operator shape is the production LSH posture: 16 portable hashes in 4
bands of 4 (candidate recall 1-(1-j^4)^4 ~ 0.88 at the planted j ~ 0.8 —
the 2-band registered shape would only reach ~0.65), built once per
session and shared by the pair report, the degree view, and the recall
floor test (tests/test_realism_fixture.py pins recall >= 0.85 against
truth_pairs.parquet).

The corpus is deterministic (fixtures.build_corpus, fixed seed), so a
fresh checkout lazily rebuilds the exact tier the committed oracles were
verified on; the specs deliberately ignore sf_dir — realistic-corpus
verification should not dilute when the driver runs at a smaller fixture
scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from crdb_changefeed_publisher_spark import fixtures
from crdb_changefeed_publisher_spark.operators import dedup
from crdb_changefeed_publisher_spark.plans.registry import query
from crdb_changefeed_publisher_spark.session import session_pass

REALISM_N = 500_000
_K = len(dedup.PORTABLE_COEFFS16)
_BANDS = 4
_R = _K // _BANDS
_THRESHOLD = 0.2


# Deterministic tier path, embedded in the oracle SQL at import time
# WITHOUT building (the Spark side of every spec runs first in all
# harnesses and lazily builds via ensure_tier; import must stay cheap).
REALISM_DIR = os.path.join(fixtures.REALCORPUS_ROOT, f"n{REALISM_N}")


def _docs(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(
        os.path.join(fixtures.ensure_tier(REALISM_N), "documents.parquet")
    )


def truth_pairs(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(
        os.path.join(fixtures.ensure_tier(REALISM_N), "truth_pairs.parquet")
    )


# Materialized pair table (r11 verdict #3): the 16-hash signature + 4 band
# joins over 500k docs cost ~38 s per SESSION when held only in the Spark
# cache, yet the corpus is a frozen fingerprint-pinned fixture — so the
# pair table is itself a pure function of (corpus, family dials). This is
# the module's own stated production posture ("materialized per corpus
# snapshot"): persist it to parquet beside the tier, keyed by the live
# corpus fingerprint and the dial shape, and let later sessions read it
# back (~1 s). Staleness is structural: a regenerated corpus produces a
# different fingerprint, which selects a different cache directory, so a
# stale table can never be read — it is simply orphaned. A directory is
# trusted only with its _SUCCESS marker (a crashed write rebuilds); the
# write lands in a process-unique temp dir and renames into place, so
# concurrent sessions race safely (loser reads the winner's table).

# The dial string keys the cache by the family's VALUES, not just its
# shape (r12 verdict finding #1): the coefficient tuple is folded into a
# short stable hash so an edit to PORTABLE_COEFFS16 that preserves the
# count still selects a fresh cache directory instead of silently reading
# pairs built under the old family.
_COEFF_HASH = __import__("hashlib").sha256(
    repr(tuple(map(tuple, dedup.PORTABLE_COEFFS16))).encode()
).hexdigest()[:8]

_PAIRS_DIAL = (
    f"k{_K}b{_BANDS}t{str(_THRESHOLD).replace('.', 'p')}c{_COEFF_HASH}"
)


def _corpus_fingerprint(docs: DataFrame) -> tuple[int, int]:
    """(row count, xxhash64 fold) — the test_realism_fixture pin."""
    from pyspark.sql import functions as F

    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "text") % 1_000_000_007).alias("fp"),
    ).first()
    return int(row.n), int(row.fp)


def _tier_manifest(tier_dir: str) -> list[list]:
    """Name+size listing of the tier's documents.parquet files — the cheap
    physical proxy for 'was this corpus regenerated'. The deterministic
    builder reproduces byte-identical files, so equal manifests imply the
    stored logical fingerprint is still the live one."""
    d = os.path.join(tier_dir, "documents.parquet")

    def entry(name: str, p: str) -> list:
        st = os.stat(p)
        # mtime (ns) joins name+size (ADVICE r12): a size-preserving
        # rewrite of the corpus now forces the real fingerprint rescan
        # instead of silently reusing the stored logical fingerprint.
        return [name, st.st_size, st.st_mtime_ns]

    if os.path.isfile(d):  # the fixture builder writes one pyarrow file
        return [entry("documents.parquet", d)]
    return [
        entry(f, os.path.join(d, f))
        for f in sorted(os.listdir(d))
        if not f.startswith(".")
    ]


def _fingerprint_validated(spark: SparkSession, tier_dir: str) -> tuple[int, int]:
    """Logical corpus fingerprint, with the full-corpus scan amortized: the
    (n, fp) pair lands in a sidecar beside the tier keyed by the file
    manifest; later sessions stat the files instead of rescanning 500k
    texts (~8 s saved per session). Any manifest drift — a regenerated or
    damaged tier — forces the real scan."""
    import json

    side = os.path.join(tier_dir, "fingerprint.json")
    manifest = _tier_manifest(tier_dir)
    if os.path.exists(side):
        try:
            with open(side) as fh:
                data = json.load(fh)
            if data.get("manifest") == manifest:
                return int(data["n"]), int(data["fp"])
        except (ValueError, KeyError, OSError):
            pass  # unreadable sidecar -> recompute below
    docs = spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))
    n, fp = _corpus_fingerprint(docs)
    # temp+rename (the repo's write discipline — r12 verdict finding #2):
    # a crash mid-dump must not leave a truncated sidecar at the final
    # path for the next session to half-parse.
    tmp = f"{side}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"n": n, "fp": fp, "manifest": manifest}, fh)
    os.replace(tmp, side)
    return n, fp


def _pairs_cache_path(tier_dir: str, n: int, fp: int) -> str:
    return os.path.join(tier_dir, f"pairs_n{n}_fp{fp}_{_PAIRS_DIAL}.parquet")


def _pairs_cache_trusted(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _materialized(spark: SparkSession, path: str, build) -> DataFrame:
    """Read the table at `path` if trusted (_SUCCESS), else build it via
    `build()` (a DataFrame factory) and land it there — the realism tier's
    shared persistence discipline: process-unique temp dir, a re-check of
    the target RIGHT before clearing (ADVICE r12: during the build a
    concurrent winner may have landed a trusted table; an unconditional
    rmtree would delete it under the winner's lazily-read DataFrame), and
    an atomic rename whose loser reads the winner's table (the same pure
    function of (corpus, dials))."""
    if not _pairs_cache_trusted(path):
        import shutil

        tmp = f"{path}.tmp-{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        if _pairs_cache_trusted(path):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # an untrusted dir at the target is a crashed write's husk —
            # clear it so the rename can land
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        if not _pairs_cache_trusted(path):
            raise RuntimeError(
                f"materialized table write left no _SUCCESS at {path}"
            )
    return spark.read.parquet(path)


def realism_pairs(spark: SparkSession, n_docs: int = REALISM_N) -> DataFrame:
    def read_or_build() -> DataFrame:
        tier_dir = fixtures.ensure_tier(n_docs)
        n, fp = _fingerprint_validated(spark, tier_dir)
        path = _pairs_cache_path(tier_dir, n, fp)

        def build() -> DataFrame:
            docs = spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))
            return dedup.minhash_portable_pairs(
                docs, threshold=_THRESHOLD, coeffs=dedup.PORTABLE_COEFFS16, bands=_BANDS
            )

        return _materialized(spark, path, build).persist()

    return session_pass(spark, "realism_pairs", n_docs, read_or_build)


# Persisted shard-admission indexes (r12 verdict #4): the content-hash and
# band indexes incremental_dedup_report probes are, like the pair table,
# pure functions of (corpus, family dials) — so they live beside the tier
# under the same fingerprint+dial key and the same trust/race discipline.
# Admitting a fresh shard then reads ONLY these two tables (16 MB + 32 MB
# at the 500k tier) plus the shard itself: the 500k corpus is neither
# scanned nor shuffled per ingest, which is the entire point of the
# incremental path at 100 TB.


def realism_corpus_index(
    spark: SparkSession, n_docs: int = REALISM_N
) -> tuple[DataFrame, DataFrame]:
    """(content-key index, band index) for the tier — materialized once per
    corpus snapshot, read back afterwards (the persisted-index posture the
    incremental_dedup_report docstring names)."""

    def read_or_build() -> tuple[DataFrame, DataFrame]:
        tier_dir = fixtures.ensure_tier(n_docs)
        n, fp = _fingerprint_validated(spark, tier_dir)

        def docs() -> DataFrame:
            return spark.read.parquet(os.path.join(tier_dir, "documents.parquet"))

        # content keys depend only on the corpus; bands also on the family
        keys = _materialized(
            spark,
            os.path.join(tier_dir, f"keys_n{n}_fp{fp}.parquet"),
            lambda: dedup.content_key_index(docs()),
        )
        bands = _materialized(
            spark,
            os.path.join(tier_dir, f"bands_n{n}_fp{fp}_{_PAIRS_DIAL}.parquet"),
            lambda: dedup.band_index(docs(), coeffs=dedup.PORTABLE_COEFFS16, bands=_BANDS),
        )
        return keys, bands

    return session_pass(spark, "realism_index", n_docs, read_or_build)


# ---------------------------------------------------------------------------
# DuckDB twin: the full 16-hash/4-band portable MinHash pipeline over the
# tier's parquet (absolute path — the corpus is not one of the driver's
# registered views). Same construction as llm._MINHASH_CTES, instantiated
# for the 16-coefficient family; the signature CTE is MATERIALIZED because
# the 4 band self-joins consume it 8 times. The char-level polynomial hash
# is deliberately kept in its naive fold form — measured FASTER in DuckDB
# than word-hash recombination variants (2x at the 50k tier).
# ---------------------------------------------------------------------------

_SIG_COLS = ",\n".join(
    f"        min((h * {a} + {b}) % 1000000007) AS m{i}"
    for i, (a, b) in enumerate(dedup.PORTABLE_COEFFS16)
)
_BAND_COLS = ",\n".join(
    "        ("
    + " + ".join(
        f"(m{i} * {dedup._PORTABLE_POWERS[j + 1]}) % 1000000007"
        for j, i in enumerate(range(band * _R, (band + 1) * _R))
    )
    + f") % 1000000007 AS b{band}"
    for band in range(_BANDS)
)
_MATCHES = " + ".join(f"CAST(a.m{i} = b.m{i} AS INT)" for i in range(_K))
_CAND_UNION = "\n        UNION\n".join(
    f"""        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MATCHES}) / {_K}.0, 4) AS est_jaccard
        FROM banded a JOIN banded b ON a.b{band} = b.b{band} AND a.doc_id < b.doc_id"""
    for band in range(_BANDS)
)


def _realism_ctes() -> str:
    src = f"read_parquet('{REALISM_DIR}/documents.parquet')"
    return f"""words AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM {src}),
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
    sig AS MATERIALIZED (
        SELECT doc_id,
{_SIG_COLS}
        FROM hashed GROUP BY doc_id
    ),
    banded AS MATERIALIZED (
        SELECT *,
{_BAND_COLS}
        FROM sig
    ),
    cand AS (
{_CAND_UNION}
    ),
    qual AS (SELECT * FROM cand WHERE est_jaccard >= {_THRESHOLD})"""


@query(
    "realism_minhash_degrees",
    # r11 swap round 9 PROMOTION (r10 verdict #6): the only near-dup row
    # whose recall is certified against planted ground truth, registered
    # at the 500k tier (100x the driver corpus); dedup_simhash retired in
    # trade (measured distribution-limited on realistic text — a screen,
    # not a primary generator; its value-verification continues in the
    # retired harness).
    oracle=f"""
    WITH {_realism_ctes()},
    ends AS (
        SELECT doc_a AS doc_id, est_jaccard FROM qual
        UNION ALL
        SELECT doc_b AS doc_id, est_jaccard FROM qual
    )
    SELECT doc_id, count(*) AS n_near_dups, max(est_jaccard) AS best_est
    FROM ends GROUP BY doc_id
    """,
    doc="Per-document near-dup degree over the portable MinHash candidate "
    "graph (16 hashes, 4 bands of 4 — the production LSH shape) on the "
    "500k-doc realistic Zipfian corpus: (doc_id, n_near_dups, best_est), "
    "output bounded by n_docs. The banded pair recall of this exact "
    "pipeline is pinned against planted truth at >= 0.85 "
    "(tests/test_realism_fixture.py; measured 0.89 flat across decades). "
    "Reads the session pair table (_shared:realism_pairs in bench.py).",
)
def realism_minhash_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_portable_degrees(
        _docs(spark), pairs=realism_pairs(spark)
    )
