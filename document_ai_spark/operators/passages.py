"""Cross-document shared-passage detection (the ExactSubstr family of
"Deduplicating Training Data Makes Language Models Better", Lee et al.
2022, arXiv:2107.06499 — approximated relationally): two documents
sharing >= `min_shared` winnowing fingerprints contain near-verbatim
common passages (winnowing guarantees any shared run of >= window+k-1
characters contributes at least one common fingerprint).

The distributed shape is the one that survives 100 TB: per-doc
fingerprints (the existing numpy winnowing kernel, one Arrow pass) ->
self-join bucketed BY FINGERPRINT (never all-pairs; a fingerprint shared
by f docs contributes f*(f-1)/2 candidate pairs, and `max_doc_freq`
drops stop-passage fingerprints the way heavy-hitter shingles are
dropped from MinHash bands) -> per-pair shared counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries_text import _winnow_text, winnow_fingerprints_df

# corpus thresholds for (min_shared, max_doc_freq), used by the pipeline's
# excise stage and the registry's passage suites. Probed at sf0.01: the
# synthetic corpus draws from a shared vocabulary, so the operators' own
# defaults (2, 100) pair nearly everything via common-word fingerprints
# (95k pairs); (8, 20) keeps the injected passage group (~50 shared
# fingerprints per pair) plus a couple dozen genuine high-overlap random
# pairs — both flag behaviors real
PASSAGE_MIN_SHARED = 8
PASSAGE_MAX_DF = 20


def shared_passage_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """fingerprints(doc_id, pos, fingerprint) — e.g. the output of
    queries_text.q_winnow_fingerprint — -> (doc_a, doc_b, n_shared)
    for pairs sharing >= min_shared distinct fingerprints.

    `max_doc_freq` excludes fingerprints present in more than that many
    documents (boilerplate passages; they would otherwise explode the
    candidate join quadratically and flag everything against
    everything)."""
    fp = fingerprints.select("doc_id", "fingerprint").distinct()
    freq = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("_df")
    )
    kept = fp.join(
        freq.filter(F.col("_df") <= max_doc_freq).select("fingerprint"),
        "fingerprint",
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fingerprint")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Exact-substring REMOVAL (r5) — the step that turns passage detection
# into the dedup a pipeline actually ships (Lee et al.'s ExactSubstr
# removes the duplicated bytes; reference analog: block dedup via cache
# reuse, ai_documents/extraction/entities.py:208-235). Keep-first
# policy: for every qualifying pair (a < b), the shared spans are cut
# from b; the minimum doc keeps its copy.
#
# Everything is relational + column expressions (no UDF): shared
# winnowing fingerprints give ANCHORS (aligned positions in both docs);
# each anchor extends to the maximal byte-identical run around it by
# comparing bounded text slices; per-victim spans union via a gap-island
# window; excision rebuilds the text from the kept segments. All
# positions (and the output text) live in the frozen winnowing
# NORMALIZATION space: lower(regexp_replace(trim(text), '\s+', ' ')).
# --------------------------------------------------------------------------

# one anchor is kept per (pair, alignment shift, ANCHOR_BUCKET of
# position): anchors of one shared run share a shift, so this collapses
# the ~per-window anchor stream to one per bucket; MAX_EXTEND > 2 *
# ANCHOR_BUCKET guarantees consecutive kept anchors of a long run still
# produce overlapping spans, so the merge step recovers the full run
ANCHOR_BUCKET = 256
MAX_EXTEND = 1024
MIN_SPAN = 40  # shorter byte-identical runs are phrase reuse, not passages
# extension is only paid for (pair, alignment shift) groups backed by at
# least this many shared fingerprints: a genuine run of >= MIN_SPAN chars
# contributes ~(MIN_SPAN-12)/5 same-shift fingerprints by the winnowing
# window guarantee (~5 at 40 chars), while single reused phrases — which
# on template-built web text can qualify nearly every doc pair — carry 1-2
# and would otherwise explode the extension stage (measured: 60 extracted
# docs -> 970 pairs, 41.6k anchors without this filter, near-zero with)
MIN_SHIFT_SUPPORT = 3


def _common_prefix_len(x: F.Column, y: F.Column) -> F.Column:
    """Length of the common prefix of two strings: one zip_with pass
    over the char arrays (each split evaluates ONCE per row —
    indexing the split inside a per-element lambda re-evaluates the
    regex split per character and goes quadratic; measured 327 s ->
    ~2 s on the 60-doc extracted corpus), then the first True position.
    zip_with pads the shorter array with nulls, which read as
    mismatches, so the padded tail never extends past the shorter
    string; both engines split '' to [''], and '' != '' is False, so
    the explicit length bound handles the empty-slice case."""
    za, zb = F.split(x, ""), F.split(y, "")
    n = F.least(F.length(x), F.length(y))
    mism = F.zip_with(
        za, zb,
        lambda a, b: a.isNull() | b.isNull() | (a != b),
    )
    pos = F.array_position(mism, F.lit(True))  # 1-based, 0 if none
    return F.least(F.when(pos > 0, pos - 1).otherwise(n), n)


def shared_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    max_doc_freq: int = 100,
    min_span: int = MIN_SPAN,
    min_shift_support: int = MIN_SHIFT_SUPPORT,
    _norm: DataFrame | None = None,
) -> DataFrame:
    """-> (doc_id, s, e): merged char spans [s, e) of the normalized
    text of each VICTIM doc (the greater id of a qualifying pair) that
    are byte-identical to a run in some lesser-id doc. Pipeline:
    winnowed fingerprints -> doc-frequency cap -> pair gate
    (>= min_shared shared fingerprints, same as shared_passage_pairs)
    -> same-shift support gate (>= min_shift_support fingerprints per
    (pair, alignment) before any extension is paid — see the
    MIN_SHIFT_SUPPORT note) -> one anchor per (pair, shift, position
    bucket) -> bounded maximal extension around each anchor ->
    per-victim interval union. A fingerprint hash collision simply
    fails to extend and is dropped by `min_span`.

    `_norm` lets excise_shared_passages pass its already-materialized
    normalized corpus so the two stages share one copy."""
    if _norm is not None:
        norm = _norm
    else:
        # the normalized corpus is read again for both slice sides:
        # materialize it ONCE (the one deliberate intermediate this
        # operator keeps, the way suffix-array dedup materializes its
        # index) instead of re-deriving the regex normalization from
        # the raw table per use
        norm = df.select(
            F.col(id_col).alias("doc_id"),
            _winnow_text(text_col).alias("t"),
        ).localCheckpoint(eager=True)
    fp = winnow_fingerprints_df(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )
    # one (position, doc) row per fingerprint occurrence set; min pos
    # picks a canonical occurrence (repeats align approximately and are
    # rescued or dropped by extension + min_span)
    fpm = fp.groupBy("doc_id", "fingerprint").agg(
        F.min("pos").alias("pos")
    )
    fpm = fpm.localCheckpoint(eager=True)  # three uses below
    freq = fpm.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("_df"))
    kept = fpm.join(
        freq.filter(F.col("_df") <= max_doc_freq).select("fingerprint"),
        "fingerprint",
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "fingerprint",
        F.col("pos").alias("pos_a"),
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "fingerprint",
        F.col("pos").alias("pos_b"),
    )
    cand = a.join(b, "fingerprint").filter(F.col("doc_a") < F.col("doc_b"))
    pairs = (
        cand.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )
    cand2 = (
        cand.join(pairs, ["doc_a", "doc_b"], "left_semi")
        .withColumn("shift", F.col("pos_a") - F.col("pos_b"))
    )
    support = (
        cand2.groupBy("doc_a", "doc_b", "shift")
        .agg(F.count(F.lit(1)).alias("_sup"))
        .filter(F.col("_sup") >= min_shift_support)
        .select("doc_a", "doc_b", "shift")
    )
    anchors = (
        cand2.join(support, ["doc_a", "doc_b", "shift"], "left_semi")
        .groupBy(
            "doc_a", "doc_b", "shift",
            F.floor(F.col("pos_b") / ANCHOR_BUCKET).alias("bucket"),
        )
        .agg(F.min("pos_b").alias("pb"))
        .select(
            "doc_a", "doc_b",
            (F.col("pb") + F.col("shift")).alias("pa"), "pb",
        )
    )
    # bounded slices around the anchor in both docs; extension compares
    # the slices char-by-char (forward for the right run, reversed for
    # the left) — never the whole documents
    witht = (
        anchors.join(
            norm.select(
                F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")
            ),
            "doc_a",
        )
        .join(
            norm.select(
                F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")
            ),
            "doc_b",
        )
    )
    pa, pb = F.col("pa"), F.col("pb")
    ext_r = _common_prefix_len(
        F.col("ta").substr(pa + 1, F.lit(MAX_EXTEND)),
        F.col("tb").substr(pb + 1, F.lit(MAX_EXTEND)),
    )
    la = F.least(pa, F.lit(MAX_EXTEND))
    lb = F.least(pb, F.lit(MAX_EXTEND))
    ext_l = _common_prefix_len(
        F.reverse(F.col("ta").substr(pa - la + 1, la)),
        F.reverse(F.col("tb").substr(pb - lb + 1, lb)),
    )
    spans = (
        witht.select(
            F.col("doc_b").alias("doc_id"),
            (pb - ext_l).alias("s"),
            (pb + ext_r).alias("e"),
        )
        .filter(F.col("e") - F.col("s") >= min_span)
        .distinct()
    )
    # interval union per victim: gap-island over (s, e)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    island = F.sum(
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
    ).over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        spans.withColumn("_i", island)
        .groupBy("doc_id", "_i")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .drop("_i")
    )


def excise_shared_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    max_doc_freq: int = 100,
    min_span: int = MIN_SPAN,
    min_shift_support: int = MIN_SHIFT_SUPPORT,
) -> DataFrame:
    """-> (id, clean_text, n_spans, chars_removed) for EVERY input row:
    victims get their shared spans cut out of the NORMALIZED text
    (segments between spans reassembled in order — byte-exact
    complement of the spans); untouched docs and pair keepers get the
    normalized text unchanged with n_spans = 0."""
    norm = df.select(
        F.col(id_col).alias("doc_id"), _winnow_text(text_col).alias("t")
    ).localCheckpoint(eager=True)
    # spans are tiny (victims x merged intervals) and consumed by both
    # the segment builder and the removal stats — materialize
    spans = shared_passage_spans(
        df, id_col, text_col, min_shared, max_doc_freq, min_span,
        min_shift_support, _norm=norm,
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window as W

    wi = W.partitionBy("doc_id").orderBy("s")
    before = spans.select(
        "doc_id",
        F.lag("e", 1, 0).over(wi).alias("ss"),
        F.col("s").alias("se"),
    )
    tail = spans.groupBy("doc_id").agg(
        F.max("e").alias("ss"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("chars_removed"),
    )
    segs = before.unionByName(
        tail.join(norm, "doc_id").select(
            "doc_id", "ss", F.length("t").alias("se")
        )
    )
    rebuilt = (
        segs.join(norm, "doc_id")
        .select(
            "doc_id", "ss",
            F.col("t").substr(
                F.col("ss") + 1, F.greatest(F.col("se") - F.col("ss"),
                                            F.lit(0))
            ).alias("seg"),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ss", "seg"))
                    ),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text")
        )
    )
    victims = rebuilt.join(tail.select("doc_id", "n_spans",
                                       "chars_removed"), "doc_id")
    return (
        norm.join(victims, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("clean_text", F.col("t")).alias("clean_text"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("chars_removed", F.lit(0)).alias("chars_removed"),
        )
    )
