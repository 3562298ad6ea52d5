"""Round-4 additions: parameterized MinHash banding, bounded
connected-components rounds, suite branches for passages/chunking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_ai_spark.queries_base import minhash_band_pairs

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two "
    "three four five six seven eight nine ten eleven twelve thirteen"
)
OTHER = (
    "completely different vocabulary nothing shared here at all zero "
    "overlap whatsoever distinct tokens everywhere in this document "
    "spanning enough words to carry many shingles of its very own"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (1, BASE),
        (2, BASE),                          # identical -> Jaccard 1.0
        (3, BASE + " tail words appended"),  # near-dup, high Jaccard
        (4, OTHER),                          # unrelated
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_banding_default_curve(planted):
    pairs = {
        (r.doc_a, r.doc_b) for r in minhash_band_pairs(planted).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_banding_steep_curve_16_4_4(planted):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(
            planted, n_hashes=16, n_bands=4, rows_per_band=4
        ).collect()
    }
    # threshold ~ (1/4)^(1/4) ~ 0.71: the planted near-dups survive, the
    # unrelated doc still never collides
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_banding_rejects_inconsistent_params(planted):
    with pytest.raises(ValueError):
        minhash_band_pairs(planted, n_hashes=16, n_bands=5, rows_per_band=4)


def test_connected_components_log_rounds_on_chain(spark):
    """30-hop chain (diameter 30): pointer jumping must converge in
    O(log d) rounds, not O(d) — the bound that keeps curation_funnel's
    iteration tail flat at corpus scale (r3 verdict item 7)."""
    from document_ai_spark.operators.similarity import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    # driver_threshold=0 forces the DISTRIBUTED loop (the adaptive gate
    # would solve 30 edges driver-side)
    labels, rounds = connected_components(
        edges, with_rounds=True, driver_threshold=0
    )
    assert 0 < rounds <= 6, rounds
    got = labels.agg(
        F.countDistinct("component").alias("c"),
        F.min("component").alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (got.c, got.m, got.n) == (1, 0, 31)


def test_connected_components_total_on_null_endpoints(spark):
    """NULL edge endpoints (outer-join artifacts) are dropped, not
    crashed on — on BOTH paths."""
    from document_ai_spark.operators.similarity import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 8)],
        "src long, dst long",
    )
    for thr in (10**6, 0):
        cc = {
            r.node: r.component
            for r in connected_components(
                edges, driver_threshold=thr
            ).collect()
        }
        assert cc == {1: 1, 2: 1, 7: 7, 8: 7}


def test_pack_sequences_rejects_bad_budget(spark):
    from document_ai_spark.operators.chunking import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 10)], "doc_id long, chunk_words int"
    )
    with pytest.raises(ValueError):
        pack_sequences(chunks, pack_words=0)


def test_connected_components_paths_agree(spark):
    """The adaptive driver union-find and the distributed min-label loop
    must compute the identical fixpoint on a messy random graph."""
    import random

    rng = random.Random(13)
    edges = [
        (rng.randint(0, 120), rng.randint(0, 120)) for _ in range(150)
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from document_ai_spark.operators.similarity import connected_components

    fast, r_fast = connected_components(df, with_rounds=True)
    slow, r_slow = connected_components(
        df, with_rounds=True, driver_threshold=0
    )
    assert r_fast == 0 and r_slow > 0
    a = {(r.node, r.component) for r in fast.collect()}
    b = {(r.node, r.component) for r in slow.collect()}
    assert a == b


def test_suite_shared_passages_branch_non_vacuous(spark):
    """The injected-passage docs (doc 0 and doc_id % 40 == 3) must pair
    up; the branch must not degenerate to all-pairs."""
    from document_ai_spark.queries_suites import _q_shared_passages

    rows = _q_shared_passages(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    injected = sorted(
        r.doc_id
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
        if r.doc_id % 40 == 3
    )
    expect = {
        (a, b) for a in injected for b in injected if a < b
    }
    assert expect <= pairs
    # and nowhere near all-pairs: the df cap kills vocabulary pairing
    assert len(pairs) < 4 * len(expect)


def test_suite_chunking_branch_reconstructs(spark):
    """Chunks must tile the normalized words with the configured
    overlap — verified by reconstructing one long document."""
    from document_ai_spark.queries_suites import (
        CHUNK_MAX_WORDS,
        CHUNK_OVERLAP,
        _q_chunking,
    )

    stride = CHUNK_MAX_WORDS - CHUNK_OVERLAP
    ch = _q_chunking(spark, "/root/testdata/sf0.001")
    multi = ch.filter(F.col("n_chunks") >= 2).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    assert multi  # at least one doc long enough to split
    doc_id = multi[0].doc_id
    rows = [r for r in multi if r.doc_id == doc_id]
    words: list[str] = []
    for r in rows:
        cw = r.chunk_text.split(" ") if r.chunk_text else []
        assert len(cw) == r.chunk_words <= CHUNK_MAX_WORDS
        start = r.chunk_no * stride
        if r.chunk_no:  # overlap region must repeat the previous chunk
            assert words[start : start + CHUNK_OVERLAP] == cw[:CHUNK_OVERLAP]
        words[start:] = cw
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") == doc_id).collect()
    import re as _re

    expect = _re.sub(r"\s+", " ", docs[0].text.strip()).split(" ")
    assert words == expect


def test_datagen_noindex_pages_gate_non_vacuously(spark, corpus_dir):
    """Every 40th doc declares robots noindex in its head: the polite
    gate must drop exactly those rows, and their goldens must still be
    byte-identical when extracted WITHOUT the gate (head content never
    reaches the article text)."""
    import os

    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.operators.pageflags import indexable_pages

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    kept = indexable_pages(pages)
    dropped = pages.count() - kept.count()
    assert dropped == 5  # i in {4, 44, 84, 124, 164} of 200
    dropped_urls = {
        r.url
        for r in pages.join(
            kept.select("url"), "url", "left_anti"
        ).collect()
    }
    assert dropped_urls == {
        f"https://site-{i % 97}.example/a/{i}" for i in (4, 44, 84, 124, 164)
    }
    # the ungated product path still extracts them byte-identically
    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    ex = extract_pages(pages, salted=False).join(golden, "url")
    mism = ex.filter(
        F.col("expected_text").isNotNull()
        & (F.col("main_text") != F.col("expected_text"))
    ).count()
    assert mism == 0


def test_minhash_banding_rows_per_band_inferred(planted):
    # (12, 3) infers r=4; distinct high-sim candidates only
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(
            planted, n_hashes=12, n_bands=3
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)
