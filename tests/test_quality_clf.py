"""Learned reference-vs-crawl quality classifier: separable planted
corpora must separate; scoring is one-scan and column-shaped."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.quality_clf import (
    FEATURE_COLS,
    quality_features,
    score_quality,
    train_quality_classifier,
)


def _fluent(rng: random.Random) -> str:
    words = ["the", "quick", "brown", "foxes", "jump", "over", "lazy",
             "dogs", "while", "reading", "in", "a", "sunny", "garden",
             "of", "that", "house", "and", "be", "to"]
    return " ".join(rng.choice(words) for _ in range(120)) + "."


def _junk(rng: random.Random) -> str:
    frags = ["$$$", "1999", "CLICK", "88x31", "@@", "buy4now",
             "%%%", "0x1F", "ZZZZ", "!!!"]
    return " ".join(rng.choice(frags) for _ in range(40))


@pytest.fixture(scope="module")
def corpora(spark):
    rng = random.Random(11)
    pos = spark.createDataFrame(
        [(i, _fluent(rng)) for i in range(150)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(i, _junk(rng)) for i in range(150)], ["doc_id", "text"]
    )
    return pos, neg


def test_quality_features_columnar(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, 42 times!")], ["doc_id", "text"]
    )
    row = quality_features(df).collect()[0]
    for c in FEATURE_COLS:
        assert getattr(row, c) is not None
    assert row.f_n_tokens == 6.0
    assert row.f_digit_ratio > 0 and row.f_upper_ratio > 0
    # no Python in the plan
    plan = (
        quality_features(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_separates_planted_corpora(spark, corpora):
    pos, neg = corpora
    model = train_quality_classifier(pos, neg)
    pos_scored = score_quality(model, pos)
    neg_scored = score_quality(model, neg)
    pos_keep = pos_scored.filter("pass_clf").count() / pos.count()
    neg_keep = neg_scored.filter("pass_clf").count() / neg.count()
    assert pos_keep > 0.95, pos_keep
    assert neg_keep < 0.05, neg_keep
    # scores are calibrated probabilities, original columns preserved
    r = pos_scored.collect()[0]
    assert 0.0 <= r.clf_quality <= 1.0
    assert set(pos_scored.columns) == {
        "doc_id", "text", "clf_quality", "pass_clf"
    }


def test_classifier_total_on_null_text(spark, corpora):
    """NULL text degrades to the empty document instead of blowing up
    VectorAssembler during fit or transform."""
    pos, neg = corpora
    dirty = neg.unionByName(
        spark.createDataFrame(
            [(9999, None)], "doc_id long, text string"
        )
    )
    model = train_quality_classifier(pos, dirty)
    scored = score_quality(model, dirty)
    assert scored.count() == dirty.count()
    row = scored.filter("doc_id = 9999").collect()[0]
    assert 0.0 <= row.clf_quality <= 1.0


def test_clf_flags_bootstrap_and_funnel_rule(spark, corpora):
    """The 'clf' curation rule (r5): rule_flags bootstraps the
    classifier's positives/negatives from the heuristic rule packs, and
    the learned filter agrees with the planted split; the funnel gains
    an into_clf rung when pass_clf is present."""
    from document_ai_spark.operators.curate import funnel_counts, rule_flags

    pos, neg = corpora
    mixed = pos.unionByName(
        neg.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    rules = ("dedup", "quality", "gopher", "clf")
    flags = rule_flags(mixed, rules, lang_col=None)
    got = {r.doc_id: r.pass_clf for r in flags.collect()}
    pos_keep = sum(got[i] for i in range(150)) / 150
    neg_keep = sum(got[i + 10_000] for i in range(150)) / 150
    assert pos_keep > 0.9, pos_keep
    assert neg_keep < 0.1, neg_keep
    row = funnel_counts(flags, rules).collect()[0]
    assert row.into_clf >= row.kept
    assert row.kept <= 160  # the junk side is filtered


def test_clf_flags_degenerate_labels_pass_all(spark, corpora):
    """All-one-class bootstrap labels mean no signal: every row passes
    instead of fitting a vacuous model."""
    from document_ai_spark.operators.curate import rule_flags

    pos, _ = corpora  # every fluent doc passes quality AND gopher
    out = rule_flags(pos, ("clf",), lang_col=None)
    assert out.count() == 150
    assert out.filter("NOT pass_clf").count() == 0


def test_classifier_threshold_monotone(spark, corpora):
    pos, neg = corpora
    model = train_quality_classifier(pos, neg)
    mixed = pos.unionByName(neg)
    strict = score_quality(model, mixed, keep_threshold=0.9)
    loose = score_quality(model, mixed, keep_threshold=0.1)
    n_strict = strict.filter("pass_clf").count()
    n_loose = loose.filter("pass_clf").count()
    assert n_strict <= n_loose
    # strict keeps a subset of loose
    s_ids = {
        (r.doc_id, r.text[:20])
        for r in strict.filter("pass_clf").collect()
    }
    l_ids = {
        (r.doc_id, r.text[:20])
        for r in loose.filter("pass_clf").collect()
    }
    assert s_ids <= l_ids
