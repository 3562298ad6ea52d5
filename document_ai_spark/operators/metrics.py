"""Evaluation metrics layer (SURVEY.md §2.4 A1-A4, §2.3 J1/J8).

Re-expresses the reference's batch evaluation harness
(/root/reference/performances.py:40-189) and metric aggregations
(/root/reference/ai_documents/analysis/cv/tuning.py:24-167) as single-pass
Spark aggregations:

  - cause_confusion(): predictions ⋈ truth on url (broadcast-able build
    side, J1), cross-expanded against the fixed cause dimension (J8), then
    one hash aggregation producing the per-cause confusion matrix +
    accuracy/precision/recall (A1) — partial+final aggregation for free.
  - extraction_accuracy(): filling/content/fuzzy accuracies (A3/A4) via
    avg(bool) and 1 - avg(normalized levenshtein).
  - grouped means over several dimensions use GROUPING SETS (A2) — one scan
    instead of the reference's four sequential dict loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

CAUSES = [
    "parse_failed",
    "pdf_parse_failed",
    "truncated_page",
    "empty_main_text",
    "low_density",
]


def cause_confusion(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Per-cause TP/FP/TN/FN + accuracy/precision/recall.

    `pred` and `truth` both carry (url, causes ARRAY<STRING>). The fixed
    cause dimension is cross-joined (14-cause analog,
    /root/reference/performances.py:40-50,143-150).
    """
    spark = pred.sparkSession
    causes_dim = local_frame(spark, [(c,) for c in CAUSES], "cause string")
    joined = pred.select(
        "url", F.col("causes").alias("pred_causes")
    ).join(
        truth.select("url", F.col("causes").alias("true_causes")), "url"
    )
    expanded = joined.crossJoin(F.broadcast(causes_dim)).select(
        "url",
        "cause",
        F.array_contains("pred_causes", F.col("cause")).alias("p"),
        F.array_contains("true_causes", F.col("cause")).alias("t"),
    )
    agg = expanded.groupBy("cause").agg(
        F.sum(F.when(F.col("p") & F.col("t"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("t"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("p") & ~F.col("t"), 1).otherwise(0)).alias("tn"),
        F.sum(F.when(~F.col("p") & F.col("t"), 1).otherwise(0)).alias("fn"),
    )
    return agg.select(
        "cause",
        "tp",
        "fp",
        "tn",
        "fn",
        ((F.col("tp") + F.col("tn"))
         / (F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn"))
         ).alias("accuracy"),
        F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
    )


def extraction_accuracy(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Corpus-level filling/content/fuzzy accuracy (tuning.py:24-79 analog).

    filling  : predicted non-empty where golden non-empty (A3)
    content  : byte-exact match rate (the north-rule invariant)
    fuzzy    : 1 - mean(levenshtein/len) over non-empty goldens (A4),
               capped at 1 per row
    """
    j = extracted.select("url", "main_text", "parse_ok").join(
        golden.select("url", "expected_text", "expected_parse_ok"), "url"
    )
    nonempty = F.col("expected_text").isNotNull() & (
        F.length("expected_text") > 0
    )
    return j.agg(
        F.avg(
            F.when(
                nonempty, (F.length("main_text") > 0).cast("double")
            )
        ).alias("filling_accuracy"),
        F.avg(
            F.when(
                F.col("expected_text").isNotNull(),
                (F.col("main_text") == F.col("expected_text")).cast("double"),
            ).otherwise((~F.col("parse_ok")).cast("double"))
        ).alias("content_accuracy"),
        (
            1
            - F.avg(
                F.when(
                    nonempty,
                    # CASE WHEN short-circuits: exact matches never pay the
                    # O(n*m) edit distance; mismatches are compared on a
                    # bounded 2000-char prefix (giant pages are 10-100 KB —
                    # unbounded levenshtein is quadratic and stalls the job)
                    F.when(
                        F.col("main_text") == F.col("expected_text"), 0.0
                    ).otherwise(
                        F.least(
                            F.levenshtein(
                                F.substring("main_text", 1, 2000),
                                F.substring("expected_text", 1, 2000),
                            )
                            / F.length(F.substring("expected_text", 1, 2000)),
                            F.lit(1.0),
                        )
                    ),
                )
            )
        ).alias("content_fuzzy_accuracy"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def grouped_accuracy(extracted: DataFrame, golden: DataFrame,
                     dims: list[str]) -> DataFrame:
    """Mean content accuracy by GROUPING SETS over `dims` + overall in one
    pass (A2 — the reference loops 4 times, tuning.py:82-167)."""
    j = extracted.join(golden, "url").withColumn(
        "exact",
        F.when(
            F.col("expected_text").isNotNull(),
            (F.col("main_text") == F.col("expected_text")).cast("double"),
        ).otherwise((~F.col("parse_ok")).cast("double")),
    )
    sets = ", ".join(f"({d})" for d in dims)
    j.createOrReplaceTempView("_grp_acc")
    return j.sparkSession.sql(
        f"""
        SELECT {', '.join(dims)}, avg(exact) AS content_accuracy,
               count(*) AS n_docs
        FROM _grp_acc
        GROUP BY GROUPING SETS ((), {sets})
        """
    )


def error_rows(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Per-cause mismatch rows (the reference's per-cause error CSVs,
    /root/reference/performances.py:82-93): for every (url, cause) where
    prediction and truth disagree, emit the disagreement kind."""
    spark = pred.sparkSession
    causes_dim = local_frame(spark, [(c,) for c in CAUSES], "cause string")
    joined = pred.select("url", F.col("causes").alias("pred_causes")).join(
        truth.select("url", F.col("causes").alias("true_causes")), "url"
    )
    expanded = joined.crossJoin(F.broadcast(causes_dim)).select(
        "url",
        "cause",
        F.array_contains("pred_causes", F.col("cause")).alias("p"),
        F.array_contains("true_causes", F.col("cause")).alias("t"),
    )
    return expanded.filter(F.col("p") != F.col("t")).select(
        "url",
        "cause",
        F.when(F.col("p"), F.lit("false_positive"))
        .otherwise(F.lit("false_negative"))
        .alias("kind"),
    )
