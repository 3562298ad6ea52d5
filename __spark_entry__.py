"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship extraction query on sf0.001.
`queries()` maps every implemented operator (SURVEY.md §2 + the
training-data-pipeline additions) to a (spark, sf_dir) callable;
`oracle_sql()` gives the DuckDB-equivalent SQL for EVERY entry (r3: the
last rows-only entry, media_features, gained a real-decoder oracle).

Round-3 registry layout: the driver gate records ~50 entries, so the 63
round-2 queries are consolidated to exactly 50 — trivially-overlapping
demos merged into suite queries (queries_suites.py: tagged unions / a
single-scan widening; each branch keeps its operator identity and its
oracle branch), and entries that never had a driver row in
CORRECTNESS_r02 are ordered FIRST so every operator gets a green driver
row this round. Merges: relational_demo_suite (8 demos), text_metrics
(4 per-doc text queries, one scan), best_config (global + by-lang sweep,
one GROUPING SETS pass), embedding_near_dup_pairs (baseline + LSH),
sessionize (lag form + native session_window).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from document_ai_spark import queries as Q  # noqa: E402
from document_ai_spark import queries_ml as M  # noqa: E402
from document_ai_spark import queries_pipeline as P  # noqa: E402
from document_ai_spark import queries_spatial as SP  # noqa: E402
from document_ai_spark import queries_suites as SU  # noqa: E402
from document_ai_spark import queries_text as TX  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: byte-exact HTML main-content extraction over sf0.001."""
    return P.q_extract_article(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- no driver row yet (new/changed this round, or truncated out
        # of CORRECTNESS_r02) — ordered first so the gate records them ---
        "ann_lsh_recall": M.q_ann_lsh_recall,
        "quality_gopher": TX.q_quality_gopher,
        "pii_scrub": TX.q_pii_scrub,
        "training_mix": M.q_training_mix,
        "curation_funnel": M.q_curation_funnel,
        "next_word_after_key": TX.q_next_word_after_key,
        "next_right_word_2d": SP.q_next_right_word_2d,
        "fuzzy_key_next_right": SP.q_fuzzy_key_next_right,
        "winnow_fingerprint": TX.q_winnow_fingerprint,
        "best_config": SU.q_best_config,
        "media_features": M.q_media_features,
        "frame_samples": TX.q_frame_samples,
        "relational_demo_suite": SU.q_relational_demo_suite,
        "text_metrics": SU.q_text_metrics,
        "embedding_near_dup_pairs": SU.q_embedding_near_dup_pairs,
        "sessionize": SU.q_sessionize,
        "ann_ivf_topk": M.q_ann_ivf_topk,
        "approx_distinct_users": Q.q_approx_distinct_users,
        "line_dedup": TX.q_line_dedup,
        "doc_signatures": SU.q_doc_signatures,
        # --- extraction pipeline (the graft itself) ---
        "extract_article": P.q_extract_article,
        "extract_pdf": P.q_extract_pdf,
        "extract_validate": P.q_extract_validate,
        "extract_confusion": P.q_extract_confusion,
        "extract_spans": P.q_extract_spans,
        "extract_blocks": P.q_extract_blocks,
        # --- relational operator inventory (SURVEY.md §2) ---
        "pricing_summary": Q.q_pricing_summary,
        "region_revenue": Q.q_region_revenue,
        "top_order_per_customer": Q.q_top_order_per_customer,
        "asof_last_view": Q.q_asof_last_view,
        "fuzzy_nation_pairs": Q.q_fuzzy_nation_pairs,
        "keyword_containment": Q.q_keyword_containment,
        "confusion_by_lang": Q.q_confusion_by_lang,
        "grouping_sets_events": Q.q_grouping_sets_events,
        "cheapest_supplier_per_bucket": Q.q_cheapest_supplier_per_bucket,
        "json_props": Q.q_json_props,
        "running_value": Q.q_running_value,
        "nearest_click_after_error": Q.q_nearest_click_after_error,
        "customer_order_counts": Q.q_customer_order_counts,
        "interval_union": Q.q_interval_union,
        "min_cost_supplier_per_part": Q.q_min_cost_supplier_per_part,
        # --- training-data pipeline operators ---
        "dedup_exact": M.q_dedup_exact,
        "minhash_signatures": M.q_minhash_signatures,
        "minhash_lsh_pairs": M.q_minhash_lsh_pairs,
        "ngram_jaccard_probe": M.q_ngram_jaccard_probe,
        "ann_cosine_topk": M.q_ann_cosine_topk,
        "simhash": M.q_simhash,
        "ann_lsh_buckets": M.q_ann_lsh_buckets,
        "dedup_clusters": M.q_dedup_clusters,
        "top_terms": TX.q_top_terms,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "ann_lsh_recall": M.SQL_ANN_LSH_RECALL,
        "quality_gopher": TX.SQL_QUALITY_GOPHER,
        "pii_scrub": TX.SQL_PII_SCRUB,
        "training_mix": M.SQL_TRAINING_MIX,
        "curation_funnel": M.SQL_CURATION_FUNNEL,
        "next_word_after_key": TX.SQL_NEXT_WORD_AFTER_KEY,
        "next_right_word_2d": SP.SQL_NEXT_RIGHT_WORD_2D,
        "fuzzy_key_next_right": SP.SQL_FUZZY_KEY_NEXT_RIGHT,
        "winnow_fingerprint": TX.SQL_WINNOW_FINGERPRINT,
        "best_config": SU.SQL_BEST_CONFIG,
        "media_features": M.SQL_MEDIA_FEATURES,
        "frame_samples": TX.SQL_FRAME_SAMPLES,
        "relational_demo_suite": SU.SQL_RELATIONAL_DEMO_SUITE,
        "text_metrics": SU.SQL_TEXT_METRICS,
        "embedding_near_dup_pairs": SU.SQL_EMBEDDING_NEAR_DUP_PAIRS,
        "sessionize": SU.SQL_SESSIONIZE,
        "ann_ivf_topk": M.SQL_ANN_IVF_TOPK,
        "approx_distinct_users": Q.SQL_APPROX_DISTINCT_USERS,
        "line_dedup": TX.SQL_LINE_DEDUP,
        "doc_signatures": SU.SQL_DOC_SIGNATURES,
        "extract_article": P.SQL_EXTRACT_ARTICLE,
        "extract_pdf": P.SQL_EXTRACT_PDF,
        "extract_validate": P.SQL_EXTRACT_VALIDATE,
        "extract_confusion": P.SQL_EXTRACT_CONFUSION,
        "extract_spans": P.SQL_EXTRACT_SPANS,
        "extract_blocks": P.SQL_EXTRACT_BLOCKS,
        "pricing_summary": Q.SQL_PRICING_SUMMARY,
        "region_revenue": Q.SQL_REGION_REVENUE,
        "top_order_per_customer": Q.SQL_TOP_ORDER_PER_CUSTOMER,
        "asof_last_view": Q.SQL_ASOF_LAST_VIEW,
        "fuzzy_nation_pairs": Q.SQL_FUZZY_NATION_PAIRS,
        "keyword_containment": Q.SQL_KEYWORD_CONTAINMENT,
        "confusion_by_lang": Q.SQL_CONFUSION_BY_LANG,
        "grouping_sets_events": Q.SQL_GROUPING_SETS_EVENTS,
        "cheapest_supplier_per_bucket": Q.SQL_CHEAPEST_SUPPLIER_PER_BUCKET,
        "json_props": Q.SQL_JSON_PROPS,
        "running_value": Q.SQL_RUNNING_VALUE,
        "nearest_click_after_error": Q.SQL_NEAREST_CLICK_AFTER_ERROR,
        "customer_order_counts": Q.SQL_CUSTOMER_ORDER_COUNTS,
        "interval_union": Q.SQL_INTERVAL_UNION,
        "min_cost_supplier_per_part": Q.SQL_MIN_COST_SUPPLIER_PER_PART,
        "dedup_exact": M.SQL_DEDUP_EXACT,
        "minhash_signatures": M.SQL_MINHASH_SIGNATURES,
        "minhash_lsh_pairs": M.SQL_MINHASH_LSH_PAIRS,
        "ngram_jaccard_probe": M.SQL_NGRAM_JACCARD_PROBE,
        "ann_cosine_topk": M.SQL_ANN_COSINE_TOPK,
        "simhash": M.SQL_SIMHASH,
        "ann_lsh_buckets": M.SQL_ANN_LSH_BUCKETS,
        "dedup_clusters": M.SQL_DEDUP_CLUSTERS,
        "top_terms": TX.SQL_TOP_TERMS,
    }
