"""Corpus curation over any (id, text[, lang]) frame: the dedup / quality /
Gopher / language flags as one single-scan plan, plus the near-dup, LM and
classifier stages joined by id. `rule_flags` is the one rule stack; it
backs the registry's funnel over the driver's documents table
(queries_ml.q_training_mix / q_curation_funnel, oracle-checked), and
`curate_table` wraps it for a freshly extracted table (the `curate` and
`pipeline` verbs) — extract -> curate is the end-to-end training-data
story.

Scale shape: every column flag is an expression over ONE scan; the only
shuffle among them is the window for the exact-dedup keeper
(hash-partition on md5(text), uniform key).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..queries_base import (
    _norm_words,
    exact_keeper,
    gopher_signals,
    lang_scores,
    minhash_band_pairs,
    n_punct,
    pred_lang,
    quality_ok,
    text_hash,
)
from ..sources.io import parquet_rows
from .quality_clf import score_quality, train_quality_classifier
from .quality_lm import lm_quality_scores
from .repetition import rep_pass_expr
from .similarity import dedup_clusters

# the extracted table's url, crawl time and text: the collapse keeps the
# newest crawl of each url, ties broken on the text
URL, TS, TEXT = "url", "warc_ts", "main_text"


def curation_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    include_rep: bool = False,
) -> DataFrame:
    """One scan -> (id, n_tokens, pass_dedup, pass_quality, pass_gopher
    [, pass_lang][, pass_rep]). pass_lang (language-ID agreement) is
    emitted only when a ground-truth lang column is available.
    include_rep=True appends the Gopher repetition flag (r5) IN the same
    scan — it is a pure column expression, so the funnel verbs ask for
    it here instead of paying a second text scan + id join."""
    t = F.col(text_col)
    words = _norm_words(t)
    n_tokens = F.size(words).cast("long")
    cols = [
        F.col(id_col),
        text_hash(t).alias("_text_hash"),
        n_tokens.alias("n_tokens"),
        quality_ok(n_tokens, n_punct(t)).alias("pass_quality"),
        gopher_signals(t, words, n_tokens)["gopher_ok"].alias("pass_gopher"),
    ]
    if lang_col is not None:
        cols.append(
            (pred_lang(lang_scores(t)) == F.col(lang_col)).alias("pass_lang")
        )
    if include_rep:
        cols.append(rep_pass_expr(t).alias("pass_rep"))
    return df.select(*cols).withColumn(
        "pass_dedup", exact_keeper(id_col, "_text_hash")
    ).drop("_text_hash")


def collapse_recrawls(df: DataFrame) -> DataFrame:
    """Keep ONE row per url (latest warc_ts): re-crawled urls otherwise
    sail through the id-keyed exact-dedup flag (same id = same keeper)
    and every flag join multiplies — 2 crawl rows x neardup x lm = 8
    flag rows per url. curate_table runs this first (via
    adaptive_collapse).

    Equal timestamps (WARC-Date is second-granular) break ties on the
    text, so the winner is a pure function of the data — never of
    partition order."""
    w = W.partitionBy(URL).orderBy(
        F.col(TS).desc(), F.col(TEXT).asc_nulls_first()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def adaptive_collapse(
    spark, extracted_path: str, materialize_dir: str
) -> tuple[DataFrame, str]:
    """Adaptive recrawl collapse for a curation entry point (r5 pair,
    same philosophy as extraction's salted='auto'): returns
    (collapsed_frame, mode), the mode chosen by the input.

    The collapse window is consumed by EVERY downstream flag stage plus
    the final semi-join write; left as lazy lineage it re-runs a
    full-row shuffle per consumer (measured 72-200 s vs 19 s for the
    neardup stage alone on the 16k bench slice). So:

    - url-unique inputs (the common recrawl-free shard) skip the window
      entirely — mode 'identity', flags read pruned parquet scans;
    - inputs WITH recrawls pay the window exactly once: the collapsed
      table is written to `materialize_dir` (idempotent _SUCCESS
      commit, so a crash between this write and the curated output
      resumes without recomputing) — mode 'materialized'.

    The uniqueness probe is a countDistinct over the url column only
    (column-pruned scan); the row count comes from parquet footers
    (driver-side metadata, no job)."""
    raw = spark.read.parquet(extracted_path)
    if raw.select(URL).distinct().count() == parquet_rows(extracted_path):
        return raw, "identity"
    if not os.path.exists(os.path.join(materialize_dir, "_SUCCESS")):
        collapse_recrawls(raw).write.mode("overwrite").parquet(
            materialize_dir
        )
    return spark.read.parquet(materialize_dir), "materialized"


def clf_flags(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Learned-classifier stage (r5): (id, pass_clf) from the
    reference-vs-crawl LR in operators/quality_clf, trained on `labels`
    (id, label BOOLEAN). rule_flags bootstraps them from the frozen
    heuristic rule packs (label = pass_quality AND pass_gopher) — the
    GPT-3/fastText-style trick of training the learned filter against
    a trusted signal, which then generalizes past the hard
    thresholds. The fit runs on a bounded deterministic sample
    (quality_clf.N_FIT_SAMPLE, fixed seed); scoring is one codegen'd
    scan. Degenerate label sets (everything one class) skip the fit
    and pass every row — no signal is no filter."""
    # the label lineage is consumed by several actions (two emptiness
    # probes + the bounded fit sample) and rule_flags stacks a heavy
    # plan under it (labels come from the already-joined flag frame,
    # whose lineage includes the LSH pipeline): checkpoint the two tiny
    # columns so that plan runs exactly once
    labels = labels.select(F.col(id_col), "label").localCheckpoint()
    lab = df.select(F.col(id_col), F.col(text_col)).join(labels, id_col)
    pos = lab.filter(F.col("label")).select(text_col)
    neg = lab.filter(~F.col("label")).select(text_col)
    # bounded emptiness probes (limit(1) short-circuits the scan)
    if pos.limit(1).count() == 0 or neg.limit(1).count() == 0:
        return df.select(
            F.col(id_col), F.lit(True).alias("pass_clf")
        )
    model = train_quality_classifier(pos, neg, text_col=text_col)
    scored = score_quality(
        model, df.select(F.col(id_col), F.col(text_col)), text_col=text_col
    )
    return scored.select(F.col(id_col), "pass_clf")


ALL_RULES = (
    "dedup", "neardup", "quality", "gopher", "rep", "lang", "lm", "clf"
)


def kept_filter(
    flags: DataFrame, rules: tuple[str, ...] = ALL_RULES
) -> DataFrame:
    """Keep rows passing every selected rule (a rule is skipped when its
    flag column is absent, e.g. `lang` without ground truth)."""
    cond = F.lit(True)
    for r in rules:
        col = f"pass_{r}"
        if col in flags.columns:
            cond = cond & F.col(col)
    return flags.filter(cond)


def funnel_counts(flags: DataFrame, rules: tuple[str, ...]) -> DataFrame:
    """One aggregation row: survivors at each stage + kept token total.
    Stage order: exact dedup -> near-dup cluster keeper -> quality ->
    gopher -> language -> LM bucket -> learned classifier. A stage
    appears only when its flag column is present AND its rule is
    selected — curation_flags always emits quality/gopher, so a
    `curate --rules dedup,clf` run would otherwise print a funnel whose
    `kept` disagrees with what kept_filter wrote. The LM and classifier
    stages additionally report the count ENTERING them
    (`into_lm`/`into_clf`) — named for the stage they feed, not for
    whichever optional stage happens to precede them (a funnel with clf
    but no lm would otherwise print a phantom LM rung)."""
    def on(rule: str) -> bool:
        return f"pass_{rule}" in flags.columns and rule in rules

    cum = F.lit(True)
    aggs = [F.count(F.lit(1)).alias("total_docs")]
    for rule, rung in (
        ("dedup", "after_dedup"),
        ("neardup", "after_neardup"),
        ("quality", "after_quality"),
        ("gopher", "after_gopher"),
        ("rep", "after_rep"),
        ("lang", None),  # feeds the chain; no rung of its own (frozen
        #                  oracle-checked curation_funnel schema)
        ("lm", "into_lm"),
        ("clf", "into_clf"),
    ):
        if not on(rule):
            continue
        if rung is not None and rung.startswith("into_"):
            # count entering the stage (cum BEFORE conjoining its flag)
            aggs.append(F.sum(cum.cast("long")).alias(rung))
            cum = cum & F.col(f"pass_{rule}")
        else:
            cum = cum & F.col(f"pass_{rule}")
            if rung is not None:
                aggs.append(F.sum(cum.cast("long")).alias(rung))
    aggs += [
        F.sum(cum.cast("long")).alias("kept"),
        F.sum(F.when(cum, F.col("n_tokens"))).alias("kept_tokens"),
    ]
    return flags.agg(*aggs)


def rule_flags(
    df: DataFrame,
    rules: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """The one rule stack: curation_flags (with the rep flag in the same
    scan when selected), then the selected neardup / lm / clf stages
    joined by id. The classifier's labels are bootstrapped from the
    heuristic flags already computed — no second curation_flags pass.
    Callers keep rows with kept_filter(flags, rules) and count them with
    funnel_counts(flags, rules)."""
    flags = curation_flags(
        df, id_col, text_col, lang_col=lang_col,
        include_rep="rep" in rules,
    )
    if "neardup" in rules:
        # fuzzy dedup (r3): MinHash signatures -> LSH band pairs ->
        # connected components, keeper = min id per cluster; docs in no
        # cluster pass. The pair builder is the one the registry's
        # MinHash queries and their DuckDB twin (_SQL_MINHASH_CORE)
        # share, and the components come back as a small eager frame,
        # so the left join adds no scan of df.
        nd = dedup_clusters(
            minhash_band_pairs(df, id_col=id_col, text_col=text_col)
        ).select(F.col("doc_id").alias(id_col), "is_keeper")
        flags = flags.join(nd, id_col, "left").withColumn(
            "pass_neardup", F.coalesce("is_keeper", F.lit(True))
        ).drop("is_keeper")
    if "lm" in rules:
        # CCNet-style LM stage (r4): pass unless in the worst perplexity
        # bucket of operators/quality_lm's self-scored unigram model
        lm = lm_quality_scores(df, id_col=id_col, text_col=text_col)
        flags = flags.join(
            lm.select(
                F.col(id_col), (F.col("lm_bucket") != "tail").alias("pass_lm")
            ),
            id_col,
        )
    if "clf" in rules:
        labels = flags.select(
            F.col(id_col),
            (F.col("pass_quality") & F.col("pass_gopher")).alias("label"),
        )
        flags = flags.join(
            clf_flags(df, labels, id_col, text_col), id_col
        )
    return flags


def curate_table(
    spark,
    extracted_path: str,
    out_dir: str,
    rules: tuple[str, ...],
    collapse_dir: str,
) -> tuple[dict, DataFrame]:
    """The curate stage over an extracted (url, warc_ts, main_text, ...)
    table, shared by the `curate` and `pipeline` verbs: recrawl collapse
    (adaptive_collapse; `collapse_dir` is where a recrawled input is
    materialized, outside `out_dir`), rule_flags, kept_filter, then a
    left-semi write of the kept rows to `out_dir`.

    Returns (summary, flags). The summary counts come from parquet
    footers: docs_in is the extracted table's row count (recrawls
    included), docs_kept the written table's. `flags` is the rule-flag
    frame, for funnel_counts(flags, rules); it reads `collapse_dir`, so
    the caller keeps that directory until the funnel has run."""
    docs_in = parquet_rows(extracted_path)
    # duplicate url rows would sail through the url-keyed exact-dedup
    # flag and multiply through every flag join, so the collapse runs
    # first; it is a lazy window re-run per consumer unless paid once
    extracted, mode = adaptive_collapse(spark, extracted_path, collapse_dir)
    flags = rule_flags(
        extracted, rules, id_col=URL, text_col=TEXT, lang_col=None
    )
    kept = kept_filter(flags, rules).select(URL)
    extracted.join(kept, URL, "left_semi").write.mode(
        "overwrite"
    ).parquet(out_dir)
    summary = {
        "rules": list(rules),
        "collapse": mode,
        "docs_in": docs_in,
        "docs_kept": parquet_rows(out_dir),
    }
    return summary, flags
