"""Retired-query gate: every spec registered with retired=True keeps full
value-verification here (same compare as the driver gate: row count, column
names, order-insensitive values), it just doesn't consume one of the
driver's 50 CORRECTNESS slots. A retired spec whose oracle is None (only
`dedup_minhash_lsh`, engine-native hashing by design) gets a rows/columns
sanity check.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from crdb_changefeed_publisher_spark import plans
from crdb_changefeed_publisher_spark.tables import TABLE_NAMES


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


RETIRED = sorted(plans.retired_specs())


def test_retired_set_is_the_expected_one():
    # Guard against silently retiring something new without updating
    # SURVEY.md's coverage table.
    assert RETIRED == [
        "cdc_scd2_history",
        "cdc_upsert_view",
        "dedup_components_altstar",
        "dedup_embedding_cosine",
        "dedup_minhash_lsh",
        "dedup_quality_keeper",
        "dedup_semantic",
        "dedup_simhash",
        "doc_bm25_search",
        "doc_boilerplate_report",
        "doc_budget_selection",
        "doc_decontaminate_excise",
        "doc_duplicate_spans",
        "doc_exact_substring_dedup_sliced",
        "doc_pii_scrub",
        "doc_quality_classifier",
        "doc_seq_packing",
        "doc_shuffle_layout",
        "doc_tfidf_top_terms",
        "domain_mixture_sample",
        "embedding_gram_covariance",
        "events_hourly_interp",
        "events_hourly_locf",
        "events_purchase_click_pairs",
        "events_rolling_zscore",
        "events_user_skew",
        "events_weighted_median",
        "graph_triangle_counts",
        "kmv_shard_overlap",
        "lang_id_confusion",
        "lang_mixture_weights",
        "multimodal_image_quality",
        "orders_price_drift",
        "orders_profile",
        "orders_zorder_key",
        "spanedit_exact_substring",
        "spanedit_passjoin_pairs",
        "supplier_customer_pagerank",
        "token_vocab_coverage",
        "word_heavy_hitters",
    ]


def test_registry_fits_driver_correctness_cap():
    n = len(plans.all_specs())
    assert n <= 50, f"{n} registered queries exceed the driver's 50-row cap"


@pytest.mark.parametrize("name", RETIRED)
def test_retired_query_matches_oracle(name, spark, sf_dir, duck):
    spec = plans.get_spec(name)
    spark_pd = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(spark_pd.columns) > 0
        assert len(spark_pd) >= 0
        return
    oracle_pd = duck.execute(spec.oracle).fetchdf()
    assert len(spark_pd) == len(oracle_pd), f"{name}: rowcount mismatch"
    assert sorted(spark_pd.columns) == sorted(oracle_pd.columns), f"{name}: columns"
    s, o = _normalize(spark_pd), _normalize(oracle_pd)
    for c in s.columns:
        eq = (s[c] == o[c]) | (s[c].isna() & o[c].isna())
        assert eq.all(), f"{name}: column {c} has {int((~eq).sum())} value diffs"
