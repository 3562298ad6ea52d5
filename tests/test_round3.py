"""Round-3 additions: approx-distinct error bound, deterministic IVF,
suite queries' internal consistency. The near-dup curation stage
(operator, funnel and CLI rule) is tested in test_curate.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_approx_distinct_sketch_within_bound(spark):
    # the driver row gates a boolean "within 5%" flag against a literal
    # TRUE oracle; this asserts the underlying sketch error directly
    from document_ai_spark.queries import APPROX_DISTINCT_REL_ERR, _t

    e = _t(spark, SF, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= r.exact * APPROX_DISTINCT_REL_ERR, (
            r.event_type, r.approx, r.exact,
        )


def test_ann_ivf_deterministic_and_sane(spark):
    from document_ai_spark.queries_ml import (
        IVF_K,
        q_ann_cosine_topk,
        q_ann_ivf_topk,
    )

    from document_ai_spark.queries_ml import IVF_PROBE_IDS

    r1 = q_ann_ivf_topk(spark, SF).collect()
    r2 = q_ann_ivf_topk(spark, SF).collect()
    assert r1 == r2  # fully deterministic (the KMeans variant was not)
    # r4: probe TABLE — IVF_K rows per probe, descending per probe
    assert len(r1) == IVF_K * len(IVF_PROBE_IDS)
    by_probe: dict[int, list] = {}
    for r in r1:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert sorted(by_probe) == sorted(IVF_PROBE_IDS)
    for pid, rows_ in by_probe.items():
        assert len(rows_) == IVF_K
        assert all(r.vec_id != pid for r in rows_)
        cosines = [r.cosine for r in rows_]
        assert cosines == sorted(cosines, reverse=True)
    # recall vs brute force: data-limited on the driver's random vectors
    # (no angular clusters — same disclosure as ann_lsh_recall); the probe
    # of 6/16 lists must still land a meaningful fraction of the true top-k
    brute10 = set(
        r.vec_id for r in q_ann_cosine_topk(spark, SF).collect()[:IVF_K]
    )
    ivf = set(r.vec_id for r in by_probe[0])
    assert len(ivf & brute10) >= 2  # measured 4/10 at sf0.001


def test_suite_row_counts_match_members(spark):
    # the consolidated suites must contain exactly the union of their
    # member queries' rows (no branch silently dropped)
    from document_ai_spark import queries as Q
    from document_ai_spark import queries_suites as SU

    suite_n = SU.q_relational_demo_suite(spark, SF).count()
    members = [
        Q.q_collect_statuses, Q.q_pivot_order_status,
        Q.q_distinct_suppliers, Q.q_small_quantity_revenue,
        Q.q_setops_customers, Q.q_semi_anti_gate,
        Q.q_nearest_price_parts, Q.q_dominant_suppliers,
        # r4 corpus-ops branches
        SU._q_shared_passages, SU._q_chunking,
        # r5 corpus-ops branches
        SU._q_quality_lm, SU._q_domain_mixture, SU._q_crawl_diff,
        SU._q_quality_clf, SU._q_passage_excision, SU._q_repetition,
    ]
    assert suite_n == sum(m(spark, SF).count() for m in members)

    sess_n = SU.q_sessionize(spark, SF).count()
    assert sess_n == (
        Q.q_user_sessions(spark, SF).count()
        + Q.q_session_window_agg(spark, SF).count()
    )


def test_text_metrics_matches_members(spark):
    # the single-scan widening computes the same values as the four
    # original per-metric queries
    from document_ai_spark import queries_suites as SU
    from document_ai_spark import queries_text as TX

    tm = SU.q_text_metrics(spark, SF)
    lang = TX.q_lang_id(spark, SF).select("doc_id", "pred_lang")
    joined = tm.select("doc_id", F.col("pred_lang").alias("a")).join(
        lang, "doc_id"
    )
    assert joined.filter(F.col("a") != F.col("pred_lang")).count() == 0
    qs = TX.q_quality_score(spark, SF).select(
        "doc_id", F.col("quality_ok").alias("b")
    )
    j2 = tm.select("doc_id", "quality_ok").join(qs, "doc_id")
    assert j2.filter(F.col("b") != F.col("quality_ok")).count() == 0
