"""Spark-free unit tests for the sixth-decade measurement tooling
(tools/make_sf1.py --tables + chunked embeddings writer;
tools/near_dup_realism.py corpus generator). These guard the properties
the recorded measurements (docs/near_dup_realism_r10.json,
docs/ivf_dial_study_r10_sf100.json) depend on."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, os.path.dirname(TOOLS))


def test_chunked_embeddings_writer_value_identical(tmp_path):
    """The ListArray/chunked writer must produce the same rows as the old
    tolist() path — replica values are seeded, so generating the same tier
    twice with different chunk sizes must agree row-for-row."""
    from tools.make_sf1 import replicate_embeddings

    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(), b_dir.mkdir()
    n_a = replicate_embeddings(str(a_dir), scale=5, chunk_replicas=2)
    n_b = replicate_embeddings(str(b_dir), scale=5, chunk_replicas=100)
    assert n_a == n_b == 5 * 2000
    con = duckdb.connect()
    bad = con.sql(
        f"""SELECT count(*) FROM '{a_dir}/embeddings.parquet' a
            JOIN '{b_dir}/embeddings.parquet' b USING (vec_id)
            WHERE a.embedding <> b.embedding OR a.label <> b.label"""
    ).fetchone()[0]
    assert bad == 0
    # replica 0 is the base fixture verbatim
    base = con.sql(
        f"""SELECT count(*) FROM '{a_dir}/embeddings.parquet' a
            JOIN '/root/testdata/sf0.1/embeddings.parquet' f USING (vec_id)
            WHERE a.embedding <> f.embedding OR a.label <> f.label"""
    ).fetchone()[0]
    assert base == 0


def test_make_sf1_documents_refuse_past_affine_capacity(tmp_path):
    """--scale past 930 with documents wanted must refuse (the affine
    word-map family over the 31-word vocab has only 30*31 distinct maps;
    silently reusing one would plant whole-replica exact duplicates)."""
    r = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "make_sf1.py"),
         "--out", str(tmp_path / "t"), "--scale", "1000"],
        capture_output=True, text=True,
    )
    assert r.returncode != 0
    assert "930" in r.stderr + r.stdout
    # but an embeddings-only partial tier at the same scale is allowed
    # (not built here — scale 1000 is the measurement tool's job)


def test_realism_corpus_deterministic_and_planted_pairs_qualify(tmp_path):
    """build_corpus: (a) deterministic across runs, (b) planted clone pairs
    all exceed the registered 0.2 word-3-gram Jaccard threshold by a wide
    margin, (c) truth pair count is linear-ish in n (clone fraction fixed)."""
    from tools.near_dup_realism import build_corpus

    a, b = tmp_path / "a", tmp_path / "b"
    info1 = build_corpus(800, str(a))
    info2 = build_corpus(800, str(b))
    assert info1 == info2
    con = duckdb.connect()
    assert con.sql(
        f"""SELECT count(*) FROM '{a}/documents.parquet' x
            JOIN '{b}/documents.parquet' y USING (doc_id)
            WHERE x.text <> y.text"""
    ).fetchone()[0] == 0

    min_j = con.sql(
        f"""WITH d AS (SELECT doc_id, string_split(trim(text),' ') w
                       FROM '{a}/documents.parquet'),
            g AS (SELECT doc_id, list_distinct(list_transform(
                     range(1, greatest(len(w)-1,1)),
                     i -> w[i]||' '||w[i+1]||' '||w[i+2])) sh FROM d)
            SELECT min(len(list_intersect(x.sh,y.sh))*1.0 /
                       (len(x.sh)+len(y.sh)-len(list_intersect(x.sh,y.sh))))
            FROM '{a}/truth_pairs.parquet' p
            JOIN g x ON x.doc_id = p.doc_a JOIN g y ON y.doc_id = p.doc_b"""
    ).fetchone()[0]
    assert min_j > 0.2, f"planted pair below registered threshold: {min_j}"

    info_big = build_corpus(1600, str(tmp_path / "c"))
    ratio = info_big["n_truth_pairs"] / info1["n_truth_pairs"]
    assert 1.2 < ratio < 3.5  # linear-ish growth, not quadratic (4x)


def test_realism_corpus_vocab_is_wide(tmp_path):
    """The generator's point is a NON-saturating corpus: distinct words in
    even a small sample must dwarf the fixture's 31-word vocabulary."""
    from tools.near_dup_realism import build_corpus

    build_corpus(500, str(tmp_path / "v"))
    con = duckdb.connect()
    n_words = con.sql(
        f"""SELECT count(DISTINCT w) FROM (
              SELECT unnest(string_split(trim(text), ' ')) w
              FROM '{tmp_path}/v/documents.parquet')"""
    ).fetchone()[0]
    assert n_words > 5000


def test_replicate_documents_refuses_programmatically(tmp_path):
    """The affine-map capacity check must live in replicate_documents()
    itself, not only in main()'s arg parsing (r10 advice: a programmatic
    call past the cap silently reused word maps and planted whole-replica
    exact duplicates — the exact hazard the guard documents)."""
    from tools.make_sf1 import replicate_documents

    with pytest.raises(ValueError, match="930"):
        replicate_documents(str(tmp_path), scale=931)


def test_replicate_embeddings_refuses_scale_zero(tmp_path):
    """scale < 1 must refuse rather than silently writing NO
    embeddings.parquet (r10 advice: the chunked writer's loop never runs
    at scale 0, where the pre-chunking path wrote the base fixture)."""
    from tools.make_sf1 import replicate_embeddings

    with pytest.raises(ValueError, match="scale"):
        replicate_embeddings(str(tmp_path), scale=0)
    assert not os.path.exists(str(tmp_path / "embeddings.parquet"))
