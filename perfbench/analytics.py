"""The analytics mix of a traced run: a fixed subset of registered queries
over seeded fixture tables, checked against DuckDB in an untimed pass, then
each timed to a ``noop`` sink in the run's warm session.

The tables follow the fixture schemas (TPC-H-ish star, events, documents,
embeddings) at the sf0.01 row counts, generated from the seed so the
benchmark reads no data outside its checkout. The CDC feeds take their
``orders`` and ``lineitem`` values from the same column generators.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import StatusStore, Verdict

# the CDC batch consumers, the fan_out_scan/Arrow sites the roadmap names,
# an ANN query, and two JVM-only controls; none consumes a `_shared:` pass
MIX = (
    "cdc_envelopes", "cdc_schema_evolution", "orders_matview_totals", "orders_cdc_reconcile",
    "doc_repetition_signals", "multimodal_real_features", "embedding_topk_srp_lsh",
    "q5_region_revenue", "q1_pricing_summary",
)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _ts(rng, n: int, start: str, days: float, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, int(days), n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = (rng.random(n) * days * 86_400e6).astype("int64").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, k: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), k)])


def orders_columns(rng, k: int) -> dict:
    """``k`` rows of the fixture ``orders`` schema."""
    n = ROWS
    return {
        "o_orderkey": pa.array(np.arange(k, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], k),
        "o_totalprice": pa.array(_money(rng, k, 1000, 500_000)),
        "o_orderdate": _ts(rng, k, "1995-01-01", 2404, True),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], k)}


def lineitem_columns(rng, k: int) -> dict:
    """``k`` rows of the fixture ``lineitem`` schema."""
    n = ROWS
    return {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, k, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["O", "F"], k),
        "l_shipdate": _ts(rng, k, "1995-01-02", 2498, True)}


def make_tables(seed: int, out_dir: str) -> None:
    """Write the ten fixture tables as parquet under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS

    def pick(values, k):
        return _pick(rng, values, k)

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)},
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"], dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype("int32")),
            "c_acctbal": pa.array(_money(rng, n["customer"], 0, 10_000)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n["customer"])},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype("int32")),
            "s_acctbal": pa.array(_money(rng, n["supplier"], 0, 10_000))},
        "part": {
            "p_partkey": pa.array(np.arange(n["part"], dtype="int64")),
            "p_name": pa.array([f"part {i}" for i in range(n["part"])]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, n["part"])]),
            "p_type": pick(["STANDARD BRASS", "SMALL PLATED STEEL", "LARGE POLISHED TIN",
                            "ECONOMY ANODIZED COPPER", "PROMO BURNISHED NICKEL"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype("int32")),
            "p_retailprice": pa.array(_money(rng, n["part"], 900, 2100))},
        "orders": orders_columns(rng, n["orders"]),
        "lineitem": lineitem_columns(rng, n["lineitem"]),
        "events": {
            "event_id": pa.array(np.arange(n["events"], dtype="int64")),
            "ts": pa.array(np.sort(np.array(_ts(rng, n["events"], "2024-01-01", 30, False)
                                            .to_numpy(zero_copy_only=False)))),
            "user_id": pa.array(rng.integers(0, 150, n["events"])),
            "event_type": pick(["signup", "click", "view", "purchase", "error"], n["events"]),
            "value": pa.array(np.round(rng.exponential(60.0, n["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])])},
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Word salad over the fixture vocabulary, with some exact and near
    duplicates so the dedup queries find pairs."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))])
             for _ in range(n)]
    for i in rng.choice(n, n // 25, replace=False):
        src = texts[rng.integers(0, n)].split()
        if rng.random() < 0.5:
            j = rng.integers(0, len(src))
            src[j] = "dup"
        texts[i] = " ".join(src)
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 7, n)]
    return {"doc_id": pa.array(np.arange(n, dtype="int64")), "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64"))}


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32"))}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_check(spark, sf_dir: str) -> tuple[int, dict]:
    """Untimed pass: every query's rows against its DuckDB oracle through
    ``tools/check_oracle.compare``. Returns (failures, problems by query)."""
    from crdb_changefeed_publisher_spark import plans
    from tools.check_oracle import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    problems = {}
    for name in MIX:
        spec = plans.get_spec(name)
        try:
            got = compare(name, spec.fn(spark, sf_dir).toPandas(), con.execute(spec.oracle).df())
        except Exception as e:  # noqa: BLE001 - a query that raises is a failed operation
            got = [f"{type(e).__name__}: {e}"]
        if got:
            problems[name] = got
    con.close()
    return len(problems), problems


def timed_pass(spark, sf_dir: str, tag: str) -> dict[str, float]:
    """One pass over MIX; seconds per query. Each query runs in its own job
    group ``<tag>:<query>`` so the status store can be read per query."""
    from crdb_changefeed_publisher_spark import plans

    sc = spark.sparkContext
    out = {}
    for name in MIX:
        sc.setJobGroup(f"{tag}:{name}", name)
        t0 = time.perf_counter()
        materialize(plans.get_spec(name).fn(spark, sf_dir))
        out[name] = time.perf_counter() - t0
    sc.setJobGroup("perfbench", "between queries")
    return out


def layers(spark, times: dict[str, float], tag: str) -> dict:
    """Per-query time, executed tasks, shuffle bytes and Python-worker
    traffic from the status store, for the pass tagged ``tag``."""
    store = StatusStore(spark)
    stages = store.stages()
    out = {}
    for q in MIX:
        jobs = store.jobs(f"{tag}:{q}")
        counts = store.job_counts(jobs, stages)
        out[f"plans.{q}_s"] = times[q]
        out[f"plans.{q}.tasks"] = counts["tasks"]
        out[f"plans.{q}.shuffle_bytes"] = counts["shuffle_write_bytes"]
        out[f"plans.{q}.python_bytes"] = store.python_bytes({j.jobId() for j in jobs})
    return out


def sweep(spark, seed: int, work: str) -> tuple[dict, Verdict]:
    """The ``plans.*`` numbers of a traced run. Writes the seeded tables,
    checks every query against DuckDB (untimed, and it warms the session),
    then times one pass. The verdict counts one operation per query."""
    sf_dir = os.path.join(work, "sweep-tables")
    make_tables(seed, sf_dir)
    failures, problems = oracle_check(spark, sf_dir)
    times = timed_pass(spark, sf_dir, "perfbench-sweep")
    verdict = Verdict(attempted=len(MIX), failed=failures, detail={"oracle": problems})
    return layers(spark, times, "perfbench-sweep"), verdict
