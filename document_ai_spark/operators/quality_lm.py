"""CCNet-style language-model quality scoring without KenLM: score every
document by its mean unigram surprisal (bits/word) under an empirical
word distribution, then bucket head/middle/tail like CCNet does with
wiki-LM perplexity. Boilerplate, gibberish and OCR noise land in the
tail bucket; fluent prose lands in the head.

The vocabulary can be (a) the corpus itself (self-scoring — spot
repetitive/outlier docs) or (b) a reference corpus's (word, count)
table (the honest CCNet analog: score crawl text against a clean
reference distribution). Either way the distribution is domain-sized
and broadcast.

Scale shape: one explode + one uniform-key groupBy builds the vocab
(skipped when a reference vocab is supplied); scoring is explode ->
broadcast join -> per-doc aggregate. Surprisals are quantized to
micro-bits (BIGINT) before the per-doc sum so the aggregate is exact
and order-independent (the float-sum rule from the oracle-parity
notes), then divided once per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries_base import _norm_words

_Q = 1_000_000  # micro-bits quantization for the exact integer sum


def unigram_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the corpus — the empirical unigram model."""
    return (
        df.select(F.explode(_norm_words(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def lm_quality_scores(
    df: DataFrame,
    vocab: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    head_frac: float = 0.3,
    tail_frac: float = 0.3,
    max_vocab: int | None = 2_000_000,
    bucket_mode: str = "approx",
) -> DataFrame:
    """-> (id, n_words, bits_per_word, lm_bucket) where bits_per_word is
    the mean -log2 p(word) with add-one smoothing (OOV words under a
    reference vocab get the smoothed floor probability 1/(N+V)), and
    lm_bucket is 'head' / 'middle' / 'tail' by global bits_per_word
    percentile (head = most fluent, CCNet's convention). Documents with
    no words score NULL bits and bucket 'tail'.

    `max_vocab` caps the broadcast model: when the vocabulary exceeds
    it, words are cut at an approximate count-quantile THRESHOLD — a
    filter over the distributed vocab, never a global
    orderBy().limit() (which Spark realizes as per-partition top-N
    merged through the driver; r4 verdict item 6). The filter is
    STRICT (count > threshold), so the whole tie-mass at the threshold
    count is dropped together: the result is at most ~max_vocab words
    (never the old arbitrary lexicographic pick among equal-count
    words) and can be substantially smaller when the long tail is flat
    — on Zipf-shaped web text the threshold lands in the hapax mass
    and the cut keeps exactly the words that actually repeat. Cut
    words score as OOV (the smoothed floor), exactly what a bounded
    reference LM does. If the strict cut would empty the model (the
    whole vocabulary ties at one count — e.g. all hapax), it falls
    back to the deterministic top-N cut instead of null-scoring the
    corpus. Pass None only when the vocabulary is known to be
    broadcast-sized.

    `bucket_mode` picks the percentile machinery:
      - 'approx' (default): percentile_approx cuts — one aggregate, no
        global sort; the 100 TB path.
      - 'exact_rank': head = lowest ceil(head_frac*n) scored docs by
        (bits_per_word, id) row_number, tail = highest
        ceil(tail_frac*n). Engine-exact (the DuckDB oracle twin
        reproduces it bit-for-bit) but a single-partition global
        window — validation/oracle scale only."""
    if bucket_mode not in ("approx", "exact_rank"):
        raise ValueError(f"unknown bucket_mode {bucket_mode!r}")
    if vocab is None:
        vocab = unigram_vocab(df, text_col)
    # materialize the model once: `vocab` feeds the size probe, the
    # totals aggregate and the scoring join, and the self-derived
    # build (explode + groupBy) would otherwise run once per use —
    # same three-use shape _q_shared_passages checkpoints
    vocab = vocab.localCheckpoint(eager=True)
    if max_vocab is not None:
        n_vocab = vocab.count()  # cheap: counts the materialized model
        if n_vocab > max_vocab:
            cut = (
                vocab.agg(
                    F.expr(
                        "percentile_approx(count, "
                        f"{1.0 - max_vocab / n_vocab}, 10000)"
                    ).alias("_t")
                ).first()["_t"]
            )
            kept_vocab = vocab.filter(F.col("count") > cut)
            if kept_vocab.isEmpty():
                # degenerate tie at the quantile: when counts cluster at
                # one value (e.g. an all-hapax vocabulary, common for
                # id-/hash-heavy text), the strict cut would empty the
                # model — every word would score NULL and the `lm` rule
                # would drop the ENTIRE corpus. Fall back to the
                # deterministic top-N cut for this rare case; the
                # driver merge it costs is bounded by max_vocab.
                kept_vocab = vocab.orderBy(
                    F.col("count").desc(), "word"
                ).limit(max_vocab)
            vocab = kept_vocab
    totals = vocab.agg(
        F.sum("count").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    words = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_norm_words(text_col)).alias("word"),
    ).filter(F.col("word") != "")
    joined = (
        words.join(F.broadcast(vocab), "word", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "_id",
            # add-one smoothing: p = (c + 1) / (N + V); quantized
            # surprisal so the per-doc sum is an exact BIGINT
            F.round(
                F.log2(
                    (F.col("_n") + F.col("_v")).cast("double")
                    / (F.coalesce(F.col("count"), F.lit(0)) + 1)
                )
                * _Q
            ).cast("long").alias("_qbits"),
        )
    )
    scores = joined.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.sum("_qbits").cast("double") / (F.count(F.lit(1)) * _Q), 6
        ).alias("bits_per_word"),
    )
    # scores are consumed twice (percentile cuts + final join): cut the
    # plan so the whole explode->join->aggregate doesn't run twice
    scores = scores.localCheckpoint(eager=True)
    if bucket_mode == "exact_rank":
        from pyspark.sql.window import Window as W

        # exact rank cuts: head/tail by global row_number over
        # (bits_per_word, id) — both engines order identically after
        # the 6dp round, and ceil() of the same IEEE product agrees
        wr = W.orderBy(F.col("bits_per_word").asc(), F.col("_id").asc())
        ranked = scores.withColumn(
            "_rk", F.row_number().over(wr)
        ).withColumn(
            "_nn", F.count(F.lit(1)).over(W.partitionBy(F.lit(1)))
        )
        bucket = (
            F.when(F.col("bits_per_word").isNull(), "tail")
            .when(
                F.col("_rk") <= F.ceil(F.lit(head_frac) * F.col("_nn")),
                "head",
            )
            .when(
                F.col("_rk")
                > F.col("_nn") - F.ceil(F.lit(tail_frac) * F.col("_nn")),
                "tail",
            )
            .otherwise("middle")
        )
        return (
            df.select(F.col(id_col).alias("_id"))
            .join(ranked, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_words", F.lit(0)).alias("n_words"),
                "bits_per_word",
                bucket.alias("lm_bucket"),
            )
        )
    # global percentile thresholds (two scalars, computed once)
    cuts = scores.agg(
        F.expr(
            f"percentile_approx(bits_per_word, {head_frac}, 10000)"
        ).alias("_head_cut"),
        F.expr(
            f"percentile_approx(bits_per_word, {1.0 - tail_frac}, 10000)"
        ).alias("_tail_cut"),
    )
    bucket = (
        F.when(F.col("bits_per_word").isNull(), "tail")
        .when(F.col("bits_per_word") <= F.col("_head_cut"), "head")
        .when(F.col("bits_per_word") > F.col("_tail_cut"), "tail")
        .otherwise("middle")
    )
    out = (
        df.select(F.col(id_col).alias("_id"))
        .join(scores, "_id", "left")
        .crossJoin(F.broadcast(cuts))
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            "bits_per_word",
            bucket.alias("lm_bucket"),
        )
    )
    return out
