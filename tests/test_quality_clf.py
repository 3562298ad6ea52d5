"""Learned reference-vs-crawl quality classifier: separable planted
corpora must separate; scoring is one-scan and column-shaped. The
`clf` curation rule's tests live in test_curate.py."""

from __future__ import annotations

from document_ai_spark.operators.quality_clf import (
    FEATURE_COLS,
    quality_features,
    score_quality,
    train_quality_classifier,
)


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


def test_classifier_separates_planted_corpora(spark, clf_corpora):
    pos, neg = clf_corpora
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


def test_classifier_total_on_null_text(spark, clf_corpora):
    """NULL text degrades to the empty document instead of blowing up
    VectorAssembler during fit or transform."""
    pos, neg = clf_corpora
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


def test_classifier_threshold_monotone(spark, clf_corpora):
    pos, neg = clf_corpora
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
