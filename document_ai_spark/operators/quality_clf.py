"""Learned quality filter (the GPT-3/LLaMA-style classifier stage):
train a logistic regression to tell a REFERENCE corpus (positives —
curated text) from random crawl text (negatives), then score every
crawl document and keep the high-quality end. Complements the rule
packs (quality/gopher), the LM-surprisal bucket (quality_lm) and the
heuristic score — the four quality signals real pipelines ensemble.

Spark-first shape: features are pure column expressions (one scan);
training runs on a BOUNDED labeled sample (pyspark.ml LogisticRegression
— JVM-side LBFGS, no Python loop); scoring is model.transform, i.e.
whole-stage-codegen'd linear algebra over the feature vector. No
per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = (
    "f_n_tokens",
    "f_mean_wl",
    "f_stop_ratio",
    "f_punct_ratio",
    "f_digit_ratio",
    "f_upper_ratio",
    "f_dup_ratio",
)

N_FIT_SAMPLE = 50_000


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the FEATURE_COLS — cheap, language-agnostic shape
    statistics (the classic quality-classifier feature set), all
    column expressions over one materialized words array."""
    from ..queries_base import _norm_words, n_nonspace, n_punct

    # NULL text degrades to the empty document (the other quality paths'
    # posture); un-coalesced NULLs would propagate into the feature
    # columns and crash VectorAssembler (handleInvalid='error')
    t = F.coalesce(F.col(text_col), F.lit(""))
    d = df.withColumn("_w", _norm_words(t))
    n = F.size("_w").cast("double")
    nz = F.greatest(n, F.lit(1.0))
    # NOTE: each quality signal keeps its OWN stopword alternation by
    # design — queries_base.LANG_PATTERNS, QUALITY_STOPWORDS and
    # GOPHER_STOPWORDS, and this classifier-only one. The oracle-checked
    # twins freeze the queries_base lists, so do not "unify" them
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(r"\b(the|be|to|of|and|a|in|that)\b"), F.lit(1)
        )
    ).cast("double")
    n_pun = n_punct(t).cast("double")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("double")
    n_upper = F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double")
    n_char = F.greatest(n_nonspace(t).cast("double"), F.lit(1.0))
    dup = (n - F.size(F.array_distinct("_w")).cast("double")) / nz
    return d.select(
        *df.columns,
        n.alias("f_n_tokens"),
        (n_char / nz).alias("f_mean_wl"),
        (n_stop / nz).alias("f_stop_ratio"),
        (n_pun / nz).alias("f_punct_ratio"),
        (n_digit / n_char).alias("f_digit_ratio"),
        (n_upper / n_char).alias("f_upper_ratio"),
        dup.alias("f_dup_ratio"),
    )


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    fit_fraction: float = 1.0,
    seed: int = 42,
):
    """Fit the reference-vs-crawl classifier on a bounded sample of each
    side (sample(fraction) + limit — no sizing count(), same contract as
    the IVF quantizer fit). Returns the fitted pyspark.ml model."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    def prep(side: DataFrame, label: int) -> DataFrame:
        s = side.select(F.col(text_col))
        if fit_fraction < 1.0:
            s = s.sample(False, fit_fraction, seed + label)
        return quality_features(s.limit(N_FIT_SAMPLE), text_col).select(
            *FEATURE_COLS, F.lit(float(label)).alias("label")
        )

    train = prep(positives, 1).unionByName(prep(negatives, 0))
    asm = VectorAssembler(
        inputCols=list(FEATURE_COLS), outputCol="features"
    )
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=50,
        regParam=0.01, standardization=True,
    )
    return lr.fit(asm.transform(train))


def score_quality(
    model,
    df: DataFrame,
    text_col: str = "text",
    keep_threshold: float = 0.5,
) -> DataFrame:
    """Score a corpus: input columns + (clf_quality DOUBLE in [0,1],
    pass_clf BOOLEAN). One scan; the linear model applies JVM-side."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    asm = VectorAssembler(
        inputCols=list(FEATURE_COLS), outputCol="features"
    )
    scored = model.transform(
        asm.transform(quality_features(df, text_col))
    )
    # threshold the ROUNDED probability so clf_quality and pass_clf can
    # never contradict each other at the boundary (the repo-wide
    # round-to-6dp-before-comparing convention)
    p1 = F.round(vector_to_array(F.col("probability"))[1], 6)
    return scored.select(
        *df.columns,
        p1.alias("clf_quality"),
        (p1 >= keep_threshold).alias("pass_clf"),
    )
