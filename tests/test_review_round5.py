"""Regression tests for the round-5 self-review (code-review skill)
findings: the empty-vocab LM fallback and the shared winnowing
position-cap constant. The `parquet_rows` path tests live in
test_sources_and_plans.py, the funnel rung tests in test_curate.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_lm_all_hapax_vocab_cut_falls_back(spark):
    """A triggered max_vocab cut over an all-hapax vocabulary (every
    count ties at 1) must NOT empty the model: the strict count>cut
    filter would null-score every doc and bucket the whole corpus
    'tail'; the fallback keeps the deterministic top-N instead."""
    from document_ai_spark.operators.quality_lm import lm_quality_scores

    docs = spark.createDataFrame(
        [(i, f"uniq{i}a uniq{i}b uniq{i}c") for i in range(12)],
        "doc_id long, text string",
    )
    scored = lm_quality_scores(docs, max_vocab=5).collect()
    assert len(scored) == 12
    # the model survived: every doc has real (non-null) bits, and not
    # everything collapsed into the tail bucket
    assert all(r.bits_per_word is not None for r in scored)
    assert {r.lm_bucket for r in scored} != {"tail"}


def test_excision_cap_shares_pos_bits():
    """The excision normalization cap and the winnowing (hash, pos)
    key layout must be the SAME constant — a drifted copy would
    desynchronize span offsets from the text they index into."""
    import inspect

    from document_ai_spark.operators import passages
    from document_ai_spark.queries_text import _POS_BITS, _winnow_text

    assert passages._winnow_text is _winnow_text
    src = inspect.getsource(_winnow_text)
    assert "_POS_BITS" in src and "1 << 24" not in src
    assert _POS_BITS == 24  # the packed-key layout the spans assume


def test_baseline_md_generator_has_no_dated_narrative():
    """write_baseline_md must not bake a past round's dated cross-run
    story into every future regeneration — the r5 host-noise analysis
    lives in BENCH/HOST_NOISE_R5.md, the generator only points at it."""
    import inspect

    import bench

    src = inspect.getsource(bench.write_baseline_md)
    assert "r5_run1" not in src
    assert "Four full bench runs" not in src
    assert "HOST_NOISE_R5.md" in src
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    assert os.path.exists(os.path.join(repo, "BENCH", "HOST_NOISE_R5.md"))
