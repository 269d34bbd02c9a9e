"""Physical-plan shape assertions: the properties that transfer from
local[32] to a 1000-executor cluster — pushdown, broadcast choices, top-k
without full sort, and Python staying out of JVM-only paths."""

from __future__ import annotations

from crdb_changefeed_publisher_spark import plans


def physical_plan(spark, name: str, sf_dir: str) -> str:
    df = plans.get_spec(name).fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark, sf_dir):
    plan = physical_plan(spark, "q1_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = physical_plan(spark, "q1_pricing_summary", sf_dir)
    # ReadSchema must not include unused columns like l_orderkey/l_partkey
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = physical_plan(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4  # nation/region/customer/supplier


def test_semi_anti_join_operators(spark, sf_dir):
    plan = physical_plan(spark, "customer_semi_anti", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_cdc_envelopes_no_python_no_shuffle(spark, sf_dir):
    plan = physical_plan(spark, "cdc_envelopes", sf_dir)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row map over the scan


def test_text_ops_stay_jvm_side(spark, sf_dir):
    assert "EvalPython" not in physical_plan(spark, "lang_id_confusion", sf_dir)
    # doc_fingerprints moved to the Arrow-vectorized portable hash in round 2
    # (HOF char-fold was interpreted + 2.5 s); Arrow batches are sanctioned,
    # row-at-a-time Python is not.
    plan = physical_plan(spark, "doc_fingerprints", sf_dir)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_minhash_has_partial_aggregation(spark, sf_dir):
    plan = physical_plan(spark, "dedup_minhash_lsh", sf_dir)
    # groupBy-min must partial-aggregate before the shuffle (map-side combine)
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_similarity_uses_arrow_batches(spark, sf_dir):
    plan = physical_plan(spark, "embedding_topk_bruteforce", sf_dir)
    assert "MapInPandas" in plan


def test_decontamination_broadcasts_benchmark_set(spark, sf_dir):
    from crdb_changefeed_publisher_spark.plans.llm import _contamination

    plan = _contamination(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # the benchmark n-gram set (tiny by contract) must be the build side of
    # a broadcast join — the corpus side never shuffles against it
    assert "BroadcastHashJoin" in plan
    assert "BuildRight" in plan


def test_session_caches_are_shared_and_keyed(spark, sf_dir):
    """The MinHash pair table and the contamination stats materialize ONCE
    per (session, sf_dir) and are shared across their consumer queries:
    the cache returns the identical persisted frame, a different sf_dir
    gets its own entry, and the consumers' plans read the cached relation
    (InMemoryTableScan) instead of recomputing it."""
    from crdb_changefeed_publisher_spark.plans.llm import _contamination, _minhash_pairs

    pairs1 = _minhash_pairs(spark, sf_dir)
    assert _minhash_pairs(spark, sf_dir) is pairs1
    c1 = _contamination(spark, sf_dir)
    assert _contamination(spark, sf_dir) is c1
    assert pairs1.storageLevel.useMemory or pairs1.storageLevel.useDisk

    other_sf = (
        "/root/testdata/sf0.01"
        if sf_dir.rstrip("/") != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    assert _minhash_pairs(spark, other_sf) is not pairs1

    for q in ("dedup_minhash_portable", "corpus_curation_report"):
        plan = physical_plan(spark, q, sf_dir)
        assert "InMemoryTableScan" in plan, q


def test_session_pass_builds_once_per_key_and_releases_on_clear(spark, sf_dir):
    """session_pass runs build once per (name, key) in a session; a second
    key builds again; clear_passes(name) unpersists the frames the pass
    held and the next request rebuilds. The trained ANN index lives in the
    session's dir, which Spark deletes when the session stops."""
    import os

    from pyspark import SparkFiles, StorageLevel

    from crdb_changefeed_publisher_spark.plans.llm import _kmeans_index_path
    from crdb_changefeed_publisher_spark.session import clear_passes, session_pass

    builds = []

    def build():
        builds.append(1)
        return spark.range(3).persist()

    first = session_pass(spark, "test_pass", "a", build)
    assert first.count() == 3
    assert session_pass(spark, "test_pass", "a", build) is first
    assert len(builds) == 1
    second = session_pass(spark, "test_pass", "b", build)
    assert second is not first and len(builds) == 2
    assert first.storageLevel != StorageLevel.NONE

    clear_passes("test_pass")
    assert first.storageLevel == StorageLevel.NONE
    assert second.storageLevel == StorageLevel.NONE
    again = session_pass(spark, "test_pass", "a", build)
    assert again is not first and len(builds) == 3
    clear_passes("test_pass")

    root = os.path.realpath(SparkFiles.getRootDirectory())
    path = os.path.realpath(_kmeans_index_path(spark, sf_dir))
    assert os.path.commonpath([root, path]) == root and os.path.isdir(path)


def test_plan_digest_ceilings_for_shape_critical_queries(spark, sf_dir):
    """Regression gate on PLAN SHAPE, not timing: for queries whose whole
    value is their shuffle/broadcast structure, pin a ceiling on exchange
    count and a floor on broadcast joins (from docs/PLANS.md's committed
    digest, with headroom for AQE variation). A Spark upgrade or operator
    edit that silently adds shuffles or drops a broadcast fails here
    before it costs anything at scale."""
    import re

    from crdb_changefeed_publisher_spark.plans.llm import SHARED_PASSES

    # query -> (max exchanges, min broadcast joins)
    ceilings = {
        "cdc_envelopes": (0, 0),          # pure map over the scan
        "q1_pricing_summary": (2, 0),     # one partial-agg shuffle (+AQE read)
        "q5_region_revenue": (3, 4),      # star join: dims broadcast, never shuffled
        "_shared:contamination": (6, 1),  # benchmark set must broadcast
        "salted_skew_agg": (3, 0),        # two-phase salted agg
        # r6 swap promotion: the incremental-dedup probes must broadcast
        # the shard-side band/hash tables; digest row 8 exch / 3 bcast
        "dedup_incremental": (10, 2),
    }
    builders = {name: spec.fn for name, spec in plans.all_specs().items()}
    builders["_shared:contamination"] = SHARED_PASSES["contamination"]
    problems = []
    for name, (max_exch, min_bcast) in ceilings.items():
        df = builders[name](spark, sf_dir)
        df.collect()  # drive AQE to the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        exch = len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan))
        bcast = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan))
        if exch > max_exch:
            problems.append(f"{name}: {exch} exchanges (ceiling {max_exch})")
        if bcast < min_bcast:
            problems.append(f"{name}: {bcast} broadcast joins (floor {min_bcast})")
    assert not problems, problems


def test_no_plan_smells_across_entire_registry(spark, sf_dir):
    """Registry-wide invariant: no query's physical plan may contain a
    CartesianProduct (the only nested-loop joins allowed are broadcast
    1-row/tiny-side ones, which plan as BroadcastNestedLoopJoin) or a
    row-at-a-time Python eval (BatchEvalPython — every Python stage must be
    Arrow-batched: ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas).
    These are the two plan shapes that do not survive a 100x scale-up."""
    offenders = {}
    every_spec = {**plans.all_specs(), **plans.retired_specs()}
    for name, spec in sorted(every_spec.items()):
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = [s for s in ("CartesianProduct", "BatchEvalPython") if s in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_plan_digest_drift_gate_rotating_subset(spark):
    """Drift gate for docs/PLANS.md (VERDICT r5 item #7): the committed
    digest was regenerated manually, so a silent plan regression could
    outlive a round. Re-audit a date-rotated subset of ~10 specs per run
    (sha256(name:ISO-week) selection — over a few weeks of runs the whole
    registry cycles through) and diff the live digest against the committed
    table row for row. On mismatch the fix is either the operator (a real
    regression) or, for an intended change, regenerating the digest:
    `python tools/plan_audit.py --retired --md docs/PLANS.md` at sf0.01.

    The digest is computed at the SAME sf as the committed table (AQE final
    plans are data-dependent, so comparing across sf would be noise, and
    sf0.001 collapses several exchanges)."""
    import datetime
    import hashlib
    import os
    import re

    from tools.plan_audit import MARKS, digest

    md_path = os.path.join(os.path.dirname(__file__), "..", "docs", "PLANS.md")
    with open(md_path) as fh:
        text = fh.read()
    sf_match = re.search(r"Scale factor dir: `([^`]+)`", text)
    assert sf_match, "docs/PLANS.md missing its scale-factor header"
    digest_sf = sf_match.group(1)
    committed: dict[str, dict[str, int]] = {}
    for m in re.finditer(r"^\| (\w+) \| (\d+(?: \| \d+)*) \|$", text, re.M):
        vals = [int(v) for v in m.group(2).split(" | ")]
        committed[m.group(1)] = dict(zip([n for n, _ in MARKS], vals))
    assert len(committed) > 80, f"parsed only {len(committed)} digest rows"

    every_spec = {**plans.all_specs(), **plans.retired_specs()}
    missing = sorted(set(every_spec) - set(committed))
    assert not missing, f"specs with no committed digest row (regenerate PLANS.md): {missing}"

    week = datetime.date.today().isocalendar()
    salt = f"{week.year}-{week.week}"
    ranked = sorted(
        committed, key=lambda n: hashlib.sha256(f"{n}:{salt}".encode()).hexdigest()
    )
    subset = [n for n in ranked if n in every_spec][:10]

    drift = {}
    for name in subset:
        df = every_spec[name].fn(spark, digest_sf)
        df.collect()  # drive AQE to its final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        live = digest(plan)
        if live != committed[name]:
            delta = {
                k: (committed[name][k], live[k])
                for k in live
                if live[k] != committed[name][k]
            }
            drift[name] = delta
    assert not drift, (
        f"plan digests drifted from docs/PLANS.md (committed, live): {drift} — "
        "if intended, regenerate with tools/plan_audit.py --retired --md docs/PLANS.md"
    )
