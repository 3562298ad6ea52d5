"""Consolidated driver-gate queries (round 3).

The driver's correctness gate records at most ~50 registry entries; round 2
shipped 63 queries, leaving the newest 13 without a driver row (VERDICT r2
item 1). This module merges trivially-overlapping demos into suite queries
so every operator lands inside the window WITHOUT losing verification:
each suite is a tagged union (or single-scan widening) of the original
queries, and the DuckDB oracle applies the identical normalization to the
original oracle SQLs — the per-branch value hashes still gate each
underlying operator.

The original per-operator functions stay exported from their modules (API
surface + focused pytest use); only the registry entries are consolidated.

Merges:
  - relational_demo_suite: 8 small relational demos (set-collect, pivot,
    distinct agg, correlated subquery, set algebra, semi/anti gate, top-k
    by distance, window-share dominant keys) normalized to
    (section, k, v_num, v_str) rows.
  - text_metrics: lang-ID + quality score + token counts + repetition
    ratio as ONE corpus scan (strictly better than 4 scans at 100 TB —
    all are column expressions over the same normalized `words` array;
    the rule expressions are queries_base's shared builders).
  - best_config: the tuning sweep's global and by-lang sections from ONE
    GROUPING SETS aggregation (was two full corpus sweeps).
  - embedding_near_dup_pairs: label-blocked baseline + LSH-bucketed scale
    path, method-tagged.
  - sessionize: lag-form per-user rollup + native session_window
    per-session rows, form-tagged (the two forms cross-check each other).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .operators.passages import PASSAGE_MAX_DF, PASSAGE_MIN_SHARED
from .queries import (
    SQL_COLLECT_STATUSES,
    SQL_DISTINCT_SUPPLIERS,
    SQL_DOMINANT_SUPPLIERS,
    SQL_NEAREST_PRICE_PARTS,
    SQL_PIVOT_ORDER_STATUS,
    SQL_SEMI_ANTI_GATE,
    SQL_SESSION_WINDOW_AGG,
    SQL_SETOPS_CUSTOMERS,
    SQL_SMALL_QUANTITY_REVENUE,
    SQL_USER_SESSIONS,
    _t,
    q_collect_statuses,
    q_distinct_suppliers,
    q_dominant_suppliers,
    q_nearest_price_parts,
    q_pivot_order_status,
    q_semi_anti_gate,
    q_session_window_agg,
    q_setops_customers,
    q_small_quantity_revenue,
    q_user_sessions,
)
from .queries_base import (
    _norm_words,
    _shingles,
    _SQL_LANG_SCORES,
    _SQL_N_NONSPACE,
    _SQL_N_PUNCT,
    _SQL_N_STOPWORDS,
    _SQL_PRED_LANG,
    _SQL_QUALITY_OK,
    _SQL_SHINGLES_FROM_WORDS,
    _SQL_SPACE_CHARS,
    _SQL_WORDS,
    lang_scores,
    n_nonspace,
    n_punct,
    n_stopwords,
    pred_lang,
    quality_ok,
)
from .queries_ml import (
    SQL_EMBEDDING_NEAR_DUPS,
    SQL_EMBEDDING_NEAR_DUPS_LSH,
    q_embedding_near_dups,
    q_embedding_near_dups_lsh,
)

# --------------------------------------------------------------------------
# Relational demo suite — 8 small demos, one tagged union.
# --------------------------------------------------------------------------


# the injected shared passage is synthetic UNIQUE text (md5 hex chain,
# 160 chars >> winnow window+k-1): corpus vocabulary never collides with
# it, so its fingerprints' doc frequency is exactly the injected-doc
# count at every SF (a doc-0 snippet failed at sf0.001 — short docs make
# ordinary-vocabulary fingerprints exceed any df cap)
import hashlib as _hashlib

PASSAGE = "".join(
    _hashlib.md5(f"passage:{i}".encode()).hexdigest() for i in range(5)
)
CHUNK_MAX_WORDS = 48
CHUNK_OVERLAP = 8


def _q_shared_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc shared-passage pairs (operators/passages) as a suite
    branch: the random corpus shares no verbatim passages naturally, so
    docs with doc_id % 40 == 3 get the synthetic PASSAGE appended IN the
    query — those docs must pair up via shared winnowing fingerprints,
    everything else must not (beyond genuine vocabulary overlap)."""
    from .operators.passages import shared_passage_pairs
    from .queries_text import winnow_fingerprints_df

    d0 = _t(spark, sf_dir, "documents")
    inj = d0.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 3,
            F.concat(F.col("text"), F.lit(" " + PASSAGE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    # materialize the fingerprints ONCE: the pair builder uses the frame
    # three times (doc-frequency cap + both self-join sides), and each
    # use would otherwise re-plan the whole winnowing scan — at corpus
    # scale fingerprints are a materialized table, not a subquery
    fp = winnow_fingerprints_df(inj).localCheckpoint(eager=True)
    return shared_passage_pairs(
        fp, min_shared=PASSAGE_MIN_SHARED, max_doc_freq=PASSAGE_MAX_DF
    )


def _q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        max_words=CHUNK_MAX_WORDS, overlap=CHUNK_OVERLAP,
    )


def _q_passage_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (operators/passages.
    excise_shared_passages, r5) over the same injected-passage corpus
    as the shared_passages branch: non-keeper docs must come back with
    the duplicated run cut out byte-exactly — v_str md5-checks every
    doc's cleaned text against the DuckDB twin of the whole
    anchor-extend-merge-excise pipeline."""
    from .operators.passages import excise_shared_passages

    d0 = _t(spark, sf_dir, "documents")
    inj = d0.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 3,
            F.concat(F.col("text"), F.lit(" " + PASSAGE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return excise_shared_passages(
        inj, min_shared=PASSAGE_MIN_SHARED, max_doc_freq=PASSAGE_MAX_DF
    )


# --------------------------------------------------------------------------
# Corpus-ops branches (r5): driver rows for the four r4 operators that
# were pytest-only (quality_lm, domain_mixture, crawl_diff, quality_clf).
# Each branch runs the REAL operator over the documents table; only the
# output is normalized to the suite schema.
# --------------------------------------------------------------------------

# mixture: exercise upsample-with-frac (2.3), downsample (0.5), integer
# keep (1.0), and the default path (docs in other langs get 0.8)
MIX_WEIGHTS = {"en": 2.3, "de": 0.5, "fr": 1.0}
MIX_DEFAULT = 0.8
MIX_SEED = 7
CLF_SEP_MARGIN = 0.5


def _q_quality_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scores + buckets (operators/quality_lm) in
    bucket_mode='exact_rank' — the engine-exact percentile form whose
    head/tail cuts the DuckDB twin reproduces bit-for-bit (the default
    'approx' mode stays the 100 TB path; the scoring math is identical
    between the modes and THAT is what v_num hash-checks per doc)."""
    from .operators.quality_lm import lm_quality_scores

    return lm_quality_scores(
        _t(spark, sf_dir, "documents"), bucket_mode="exact_rank"
    )


def _q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling (operators/mixing) keyed on
    lang as the domain: every keep/copy decision is a pure md5-nibble
    function of (doc_id, seed), so the oracle recomputes each one."""
    from .operators.mixing import domain_mixture

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return domain_mixture(
        d, MIX_WEIGHTS, domain_col="lang", id_col="doc_id",
        default_weight=MIX_DEFAULT, seed=MIX_SEED,
    )


def _crawl_snapshots(spark: SparkSession, sf_dir: str):
    """(old, new) snapshot pair built in-query from the documents table:
    new drops doc_id % 7 == 0 (-> removed), rewrites % 5 == 0 (->
    changed), RE-CRAWLS % 11 == 0 with a second differing row (the
    duplicate-url case the r4 ADVICE found — must still be ONE diff
    row), and adds shifted ids (-> added)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 7 != 0)
    cur = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" v2")),
        ).otherwise(F.col("text")).alias("text"),
    )
    recrawl = base.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" recrawl")).alias("text"),
    )
    added = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return d, cur.unionByName(recrawl).unionByName(added)


def _q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.crawldiff import crawl_diff

    old, new = _crawl_snapshots(spark, sf_dir)
    return crawl_diff(old, new, id_col="doc_id", content_col="text")


def _q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (operators/quality_clf): train
    reference-vs-crawl on documents vs an in-query corruption (spaces
    fused to '#@' — one giant symbol-ridden token per doc), score both
    sides, and emit (n_scored, separated). n_scored is exact; the
    separation margin is the bounded-error BOOLEAN the sketch entries
    use (a literal-TRUE oracle twin): an LR that cannot put >= 0.5 mean
    probability between clean prose and that corruption is broken."""
    from .operators.quality_clf import (
        score_quality,
        train_quality_classifier,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    neg = d.select(
        "doc_id", F.regexp_replace("text", " ", "#@").alias("text")
    )
    model = train_quality_classifier(d, neg, seed=42)
    pos_s = score_quality(model, d).select(
        F.lit(1).alias("lbl"), "clf_quality"
    )
    neg_s = score_quality(model, neg).select(
        F.lit(0).alias("lbl"), "clf_quality"
    )
    return pos_s.unionByName(neg_s).agg(
        F.count(F.lit(1)).alias("n_scored"),
        (
            F.avg(F.when(F.col("lbl") == 1, F.col("clf_quality")))
            - F.avg(F.when(F.col("lbl") == 0, F.col("clf_quality")))
            >= CLF_SEP_MARGIN
        ).alias("separated"),
    )


REP_LINE_WORDS = 8  # words per constructed line in the repetition branch


def _rep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text has NO newline structure, so the repetition branch
    constructs it deterministically (the injected-passage trick): lines
    of REP_LINE_WORDS words split into two '\\n\\n'-separated halves,
    with PLANTED duplication — doc_id % 4 extra copies of line 1
    appended to the second half, and the first half repeated as a third
    paragraph when doc_id % 5 == 2 — and PLANTED line shapes: a bullet
    prefix on line index 1 when doc_id % 3 == 1, an ellipsis suffix on
    line index 0 when doc_id % 7 == 3. Every fraction the operator
    reports is then a pure function the DuckDB twin recomputes."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # NULL text degrades to the empty document in BOTH twins (Spark's
    # concat_ws would silently swallow a NULL; DuckDB's || propagates it
    # — without the coalesce the two engines diverge on a NULL row)
    w = _norm_words(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(w)
    nl = F.floor(
        (n + (REP_LINE_WORDS - 1)) / F.lit(float(REP_LINE_WORDS))
    ).cast("int")

    def _line(i: F.Column) -> F.Column:
        base = F.concat_ws(
            " ", F.slice(w, i * REP_LINE_WORDS + 1, REP_LINE_WORDS)
        )
        return (
            F.when(
                (F.col("doc_id") % 3 == 1) & (i == 1),
                F.concat(F.lit("- "), base),
            )
            .when(
                (F.col("doc_id") % 7 == 3) & (i == 0),
                F.concat(base, F.lit("...")),
            )
            .otherwise(base)
        )

    lines = F.transform(F.sequence(F.lit(0), nl - 1), _line)
    h = F.floor(nl / F.lit(2.0)).cast("int")
    k = (F.col("doc_id") % 4).cast("int")
    s1 = F.concat_ws("\n", F.slice(lines, F.lit(1), h))
    s2 = F.concat_ws(
        "\n",
        F.concat(
            F.slice(lines, h + 1, nl - h),
            F.array_repeat(F.element_at(lines, 1), k),
        ),
    )
    text = F.when(
        F.col("doc_id") % 5 == 2,
        F.concat_ws("\n\n", s1, s2, s1),
    ).otherwise(F.concat_ws("\n\n", s1, s2))
    return d.select("doc_id", text.alias("text"))


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/repetition) over the
    constructed line-structured corpus — the REAL operator, per-doc."""
    from .operators.repetition import repetition_metrics

    return repetition_metrics(_rep_corpus(spark, sf_dir))


def q_relational_demo_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of 16 demos normalized to (section, k, v_num, v_str). Each
    branch is the unchanged original query/operator (operator identity
    preserved — e.g. the pivot branch still runs a real pivot, the
    chunking branch runs the real chunk_documents operator), only the
    output is normalized for the shared schema. r4 added the two
    corpus-ops branches (shared_passages, chunking) so the
    previously pytest-only operators get driver rows without breaching
    the 50-entry registry cap; the chunking branch hash-checks every
    chunk's TEXT via md5 in v_str. r5 adds five more the same way:
    quality_lm (per-doc surprisal + exact-rank bucket), domain_mixture
    (every keep/copy decision), crawl_diff (per-url status + both
    set-hashes), quality_clf (exact count + bounded-error separation
    boolean), passage_excision (exact-substring removal, per-doc
    cleaned text md5-checked), repetition (Gopher duplicate-line/
    paragraph fractions over a planted line-structured corpus)."""

    def tag(name: str) -> F.Column:
        return F.lit(name).alias("section")

    cs = q_collect_statuses(spark, sf_dir).select(
        tag("collect_statuses"),
        F.col("o_orderpriority").alias("k"),
        F.col("n").cast("double").alias("v_num"),
        F.col("statuses").alias("v_str"),
    )
    pv = q_pivot_order_status(spark, sf_dir).select(
        tag("pivot_order_status"),
        F.col("o_orderpriority").alias("k"),
        (F.col("n_f") + F.col("n_o") + F.col("n_p"))
        .cast("double")
        .alias("v_num"),
        F.concat_ws(",", "n_f", "n_o", "n_p").alias("v_str"),
    )
    ds = q_distinct_suppliers(spark, sf_dir).select(
        tag("distinct_suppliers"),
        F.col("l_returnflag").alias("k"),
        F.col("n_suppliers").cast("double").alias("v_num"),
        F.col("n_parts").cast("string").alias("v_str"),
    )
    sq = q_small_quantity_revenue(spark, sf_dir).select(
        tag("small_quantity_revenue"),
        F.lit("total").alias("k"),
        F.col("total_price").alias("v_num"),
        F.col("n_items").cast("string").alias("v_str"),
    )
    so = q_setops_customers(spark, sf_dir).select(
        tag("setops_customers"),
        F.col("c_custkey").cast("string").alias("k"),
        F.col("c_custkey").cast("double").alias("v_num"),
        F.lit("").alias("v_str"),
    )
    sa = q_semi_anti_gate(spark, sf_dir).select(
        tag("semi_anti_gate"),
        F.col("c_mktsegment").alias("k"),
        F.col("n_customers").cast("double").alias("v_num"),
        F.lit("").alias("v_str"),
    )
    np_ = q_nearest_price_parts(spark, sf_dir).select(
        tag("nearest_price_parts"),
        F.col("p_partkey").cast("string").alias("k"),
        F.col("dist").alias("v_num"),
        F.lit("").alias("v_str"),
    )
    do = q_dominant_suppliers(spark, sf_dir).select(
        tag("dominant_suppliers"),
        F.col("s_suppkey").cast("string").alias("k"),
        F.col("s_suppkey").cast("double").alias("v_num"),
        F.col("s_name").alias("v_str"),
    )
    sp = _q_shared_passages(spark, sf_dir).select(
        tag("shared_passages"),
        F.concat_ws(":", "doc_a", "doc_b").alias("k"),
        F.col("n_shared").cast("double").alias("v_num"),
        F.lit("").alias("v_str"),
    )
    ck = _q_chunking(spark, sf_dir).select(
        tag("chunking"),
        F.concat_ws(":", "doc_id", "chunk_no", "n_chunks").alias("k"),
        F.col("chunk_words").cast("double").alias("v_num"),
        F.md5(F.encode("chunk_text", "UTF-8")).alias("v_str"),
    )
    ql = _q_quality_lm(spark, sf_dir).select(
        tag("quality_lm"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("bits_per_word").alias("v_num"),
        F.concat_ws(":", "lm_bucket", "n_words").alias("v_str"),
    )
    dm = _q_domain_mixture(spark, sf_dir).select(
        tag("domain_mixture"),
        F.concat_ws(":", "doc_id", "copy_no").alias("k"),
        F.col("doc_id").cast("double").alias("v_num"),
        F.col("lang").alias("v_str"),
    )
    cd = _q_crawl_diff(spark, sf_dir).select(
        tag("crawl_diff"),
        F.col("doc_id").cast("string").alias("k"),
        F.lit(1.0).alias("v_num"),
        F.concat_ws(
            ":", "status",
            F.coalesce("old_hash", F.lit("-")),
            F.coalesce("new_hash", F.lit("-")),
        ).alias("v_str"),
    )
    qc = _q_quality_clf(spark, sf_dir).select(
        tag("quality_clf"),
        F.lit("separation").alias("k"),
        F.col("n_scored").cast("double").alias("v_num"),
        F.col("separated").cast("string").alias("v_str"),
    )
    px = _q_passage_excision(spark, sf_dir).select(
        tag("passage_excision"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("chars_removed").cast("double").alias("v_num"),
        F.concat_ws(
            ":", F.md5(F.encode("clean_text", "UTF-8")), "n_spans"
        ).alias("v_str"),
    )

    def _micro(c: str) -> F.Column:
        # fraction -> exact integer micro-units for the v_str hash:
        # double-to-string FORMATTING differs between engines
        # (1e-6 renders '1.0E-6' in Spark, '0.000001' in DuckDB)
        return F.round(F.col(c) * 1_000_000).cast("long")

    rp = _q_repetition(spark, sf_dir).select(
        tag("repetition"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("dup_line_frac").alias("v_num"),
        F.concat_ws(
            ":",
            "n_lines",
            _micro("dup_line_char_frac"),
            "n_paras",
            _micro("dup_para_frac"),
            _micro("dup_para_char_frac"),
            _micro("bullet_line_frac"),
            _micro("ellipsis_line_frac"),
        ).alias("v_str"),
    )
    out = cs
    for branch in (pv, ds, sq, so, sa, np_, do, sp, ck, ql, dm, cd, qc,
                   px, rp):
        out = out.unionByName(branch)
    return out


def _sql_shared_passages() -> str:
    from .queries_text import sql_winnow_fingerprint

    inj = f"""(SELECT doc_id,
       text || CASE WHEN doc_id % 40 = 3
                    THEN ' {PASSAGE}'
                    ELSE '' END AS text
  FROM documents)"""
    return f"""
WITH fp AS ({sql_winnow_fingerprint(inj)}),
dfp AS (SELECT DISTINCT doc_id, fingerprint FROM fp),
freq AS (SELECT fingerprint, COUNT(*) AS df FROM dfp GROUP BY fingerprint),
kept AS (SELECT doc_id, fingerprint FROM dfp JOIN freq USING (fingerprint)
         WHERE df <= {PASSAGE_MAX_DF}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_shared FROM pairs
WHERE n_shared >= {PASSAGE_MIN_SHARED}
"""


_CHUNK_STRIDE = CHUNK_MAX_WORDS - CHUNK_OVERLAP

_SQL_CHUNKING = f"""
WITH w AS (
  SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
c AS (
  SELECT doc_id, words,
         CASE WHEN len(words) <= {CHUNK_MAX_WORDS} THEN 1
              ELSE CAST(ceil(CAST(len(words) - {CHUNK_OVERLAP} AS DOUBLE)
                             / {_CHUNK_STRIDE}) AS INT) END AS n_chunks
  FROM w),
ch AS (
  SELECT doc_id, n_chunks, unnest(range(0, n_chunks)) AS chunk_no, words
  FROM c)
SELECT doc_id, chunk_no, n_chunks,
       array_to_string(
         list_slice(words, chunk_no * {_CHUNK_STRIDE} + 1,
                    chunk_no * {_CHUNK_STRIDE} + {CHUNK_MAX_WORDS}), ' ')
           AS chunk_text,
       len(list_slice(words, chunk_no * {_CHUNK_STRIDE} + 1,
                      chunk_no * {_CHUNK_STRIDE} + {CHUNK_MAX_WORDS}))
           AS chunk_words
FROM ch
"""


# DuckDB twin of the exact-rank unigram-LM scoring: the identical
# add-one-smoothed micro-bit integer sums (exact BIGINT arithmetic in
# both engines), 6dp rounding BEFORE ranking, and the same ceil() rank
# cuts (both engines do the IEEE double product, so ties and boundaries
# agree). max_vocab is untriggered at oracle scale (the fixture vocab is
# far below the 2M default), matching the Spark side.
_SQL_QUALITY_LM = f"""
WITH w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
t2 AS (SELECT doc_id, word FROM tok WHERE word <> ''),
vocab AS (SELECT word, COUNT(*) AS cnt FROM t2 GROUP BY word),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM vocab),
q AS (SELECT t2.doc_id,
         CAST(round(log2(CAST(n + v AS DOUBLE) / (cnt + 1)) * 1000000)
              AS BIGINT) AS qb
      FROM t2 JOIN vocab USING (word), tot),
s AS (SELECT doc_id, COUNT(*) AS n_words,
         round(CAST(SUM(qb) AS DOUBLE) / (COUNT(*) * 1000000), 6)
             AS bits_per_word
      FROM q GROUP BY doc_id),
r AS (SELECT *, row_number() OVER (ORDER BY bits_per_word, doc_id) AS rk,
         COUNT(*) OVER () AS nn
      FROM s)
SELECT d.doc_id, r.bits_per_word,
       CASE WHEN r.bits_per_word IS NULL THEN 'tail'
            WHEN r.rk <= ceil(0.3 * r.nn) THEN 'head'
            WHEN r.rk > r.nn - ceil(0.3 * r.nn) THEN 'tail'
            ELSE 'middle' END AS lm_bucket,
       CAST(COALESCE(r.n_words, 0) AS BIGINT) AS n_words
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
"""


def _sql_md5_nibble5(expr: str) -> str:
    """First 5 md5 hex nibbles of `expr` as an integer in [0, 16^5) —
    the DuckDB side of operators/mixing._id_hash."""
    return "(" + " + ".join(
        f"(instr('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1)"
        f" * {16 ** (4 - j)}"
        for j in range(5)
    ) + ")"


# weights CAST to DOUBLE so (w - floor(w)) * 16^5 is the same IEEE
# product Spark computes (a bare 2.3 literal would be DuckDB DECIMAL
# and could land on the other side of an integer threshold)
_MIX_CASE = (
    "CASE lang "
    + " ".join(
        f"WHEN '{k}' THEN CAST({v!r} AS DOUBLE)"
        for k, v in MIX_WEIGHTS.items()
    )
    + f" ELSE CAST({MIX_DEFAULT!r} AS DOUBLE) END"
)

_SQL_DOMAIN_MIXTURE = f"""
WITH m AS (
  SELECT doc_id, lang, {_MIX_CASE} AS w,
         {_sql_md5_nibble5(f"CAST(doc_id AS VARCHAR) || ':{MIX_SEED}'")} AS h
  FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(floor(w) AS INT)
         + CASE WHEN h < (w - floor(w)) * {16 ** 5} THEN 1 ELSE 0 END
             AS n_copies
  FROM m)
SELECT doc_id, lang, unnest(range(0, n_copies)) AS copy_no
FROM c WHERE n_copies > 0
"""

_SQL_CRAWL_DIFF = """
WITH oldt AS (SELECT doc_id, text FROM documents),
newt AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id, text || ' recrawl' FROM documents
  WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0),
oh AS (SELECT doc_id, md5(string_agg(h, ',' ORDER BY h)) AS old_hash
       FROM (SELECT DISTINCT doc_id, md5(coalesce(text, '')) AS h
             FROM oldt)
       GROUP BY doc_id),
nh AS (SELECT doc_id, md5(string_agg(h, ',' ORDER BY h)) AS new_hash
       FROM (SELECT DISTINCT doc_id, md5(coalesce(text, '')) AS h
             FROM newt)
       GROUP BY doc_id)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash <> n.new_hash THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_hash, n.new_hash
FROM oh o FULL OUTER JOIN nh n ON o.doc_id = n.doc_id
"""


def _sql_cp(x: str, y: str) -> str:
    """DuckDB twin of passages._common_prefix_len: one list_zip pass
    over the char arrays (per-char substr would re-seek the string per
    element — the quadratic form both engines must avoid), first True
    position (list_position: 1-based, 0 when absent), bounded by the
    shorter LENGTH (str_split('') yields [''])."""
    n = f"least(length({x}), length({y}))"
    pos = (
        f"list_position(list_transform(list_zip(str_split({x}, ''), "
        f"str_split({y}, '')), p -> p[1] IS DISTINCT FROM p[2]), true)"
    )
    return (
        f"least(CASE WHEN {pos} > 0 THEN {pos} - 1 ELSE {n} END, {n})"
    )


def _sql_passage_excision() -> str:
    """DuckDB twin of excise_shared_passages over the injected-passage
    corpus: winnow -> anchor (one per pair/shift/bucket) -> bounded
    slice extension -> gap-island union -> segment reassembly. Every
    constant (bucket 256, extend 1024, min_span 40, shift support 3,
    min_shared/max_df) mirrors operators/passages.py."""
    from .operators.passages import (
        ANCHOR_BUCKET,
        MAX_EXTEND,
        MIN_SHIFT_SUPPORT,
        MIN_SPAN,
    )
    from .queries_text import _SQL_WINNOW_TEXT, sql_winnow_fingerprint

    inj = f"""(SELECT doc_id,
       text || CASE WHEN doc_id % 40 = 3
                    THEN ' {PASSAGE}'
                    ELSE '' END AS text
  FROM documents)"""
    cp_r = _sql_cp("sr_a", "sr_b")
    cp_l = _sql_cp("sl_a", "sl_b")
    return rf"""
WITH nrm AS (
  SELECT doc_id,
         {_SQL_WINNOW_TEXT} AS t
  FROM {inj}),
fp AS ({sql_winnow_fingerprint(inj)}),
fpm AS (SELECT doc_id, fingerprint, MIN(pos) AS pos
        FROM fp GROUP BY doc_id, fingerprint),
freq AS (SELECT fingerprint, COUNT(*) AS df FROM fpm GROUP BY fingerprint),
kept AS (SELECT doc_id, fingerprint, pos
         FROM fpm JOIN freq USING (fingerprint)
         WHERE df <= {PASSAGE_MAX_DF}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM kept a JOIN kept b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id),
prs AS (SELECT doc_a, doc_b FROM cand GROUP BY doc_a, doc_b
        HAVING COUNT(*) >= {PASSAGE_MIN_SHARED}),
cand2 AS (
  SELECT doc_a, doc_b, pos_a - pos_b AS shift,
         pos_b // {ANCHOR_BUCKET} AS bkt, pos_b
  FROM cand JOIN prs USING (doc_a, doc_b)),
sup AS (
  SELECT doc_a, doc_b, shift FROM cand2
  GROUP BY doc_a, doc_b, shift
  HAVING COUNT(*) >= {MIN_SHIFT_SUPPORT}),
anch AS (
  SELECT doc_a, doc_b, MIN(pos_b) + shift AS pa, MIN(pos_b) AS pb
  FROM cand2 JOIN sup USING (doc_a, doc_b, shift)
  GROUP BY doc_a, doc_b, shift, bkt),
sl AS (
  SELECT anch.doc_b AS doc_id, pb,
         substr(ta.t, pa + 1, {MAX_EXTEND}) AS sr_a,
         substr(tb.t, pb + 1, {MAX_EXTEND}) AS sr_b,
         reverse(substr(ta.t, pa - least(pa, {MAX_EXTEND}) + 1,
                        least(pa, {MAX_EXTEND}))) AS sl_a,
         reverse(substr(tb.t, pb - least(pb, {MAX_EXTEND}) + 1,
                        least(pb, {MAX_EXTEND}))) AS sl_b
  FROM anch JOIN nrm ta ON anch.doc_a = ta.doc_id
            JOIN nrm tb ON anch.doc_b = tb.doc_id),
exts AS (SELECT doc_id, pb, {cp_r} AS ext_r, {cp_l} AS ext_l FROM sl),
sp0 AS (
  SELECT DISTINCT doc_id, pb - ext_l AS s, pb + ext_r AS e
  FROM exts WHERE ext_l + ext_r >= {MIN_SPAN}),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS i
  FROM (SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pm
        FROM sp0)),
mrg AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        FROM isl GROUP BY doc_id, i),
tails AS (
  SELECT m.doc_id, MAX(m.e) AS ss, ANY_VALUE(length(n.t)) AS se,
         COUNT(*) AS n_spans, SUM(m.e - m.s) AS chars_removed
  FROM mrg m JOIN nrm n ON m.doc_id = n.doc_id GROUP BY m.doc_id),
segs AS (
  SELECT doc_id, lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s)
             AS ss,
         s AS se
  FROM mrg
  UNION ALL
  SELECT doc_id, ss, se FROM tails),
reb AS (
  SELECT s.doc_id,
         string_agg(substr(n.t, s.ss + 1, greatest(s.se - s.ss, 0)),
                    '' ORDER BY s.ss) AS clean_text
  FROM segs s JOIN nrm n ON s.doc_id = n.doc_id GROUP BY s.doc_id)
SELECT n.doc_id,
       COALESCE(r.clean_text, n.t) AS clean_text,
       CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(t.chars_removed, 0) AS BIGINT) AS chars_removed
FROM nrm n LEFT JOIN reb r ON n.doc_id = r.doc_id
           LEFT JOIN tails t ON n.doc_id = t.doc_id
"""


# DuckDB twin of the repetition branch: reconstruct the SAME planted
# corpus (lines of REP_LINE_WORDS words, two-paragraph split, doc_id%4
# extra copies of line 1, doc_id%5==2 repeats paragraph 1), then
# recompute every duplicate-line/paragraph fraction from first
# principles. list_sum over an empty list is NULL in DuckDB — COALESCE
# to 0 to match Spark's aggregate() with a 0 seed.
_SQL_REPETITION = rf"""
WITH b AS (
  SELECT doc_id, {_SQL_WORDS} AS w
  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
c AS (
  SELECT doc_id, w,
         CAST(floor((len(w) + {REP_LINE_WORDS - 1})
                    / {REP_LINE_WORDS}.0) AS INT) AS nl
  FROM b),
l AS (
  SELECT doc_id, nl, CAST(floor(nl / 2.0) AS INT) AS h,
         CAST(doc_id % 4 AS INT) AS k,
         list_transform(generate_series(0, nl - 1),
           i -> CASE
                  WHEN doc_id % 3 = 1 AND i = 1
                  THEN '- ' || array_to_string(
                         w[i * {REP_LINE_WORDS} + 1 :
                           i * {REP_LINE_WORDS} + {REP_LINE_WORDS}], ' ')
                  WHEN doc_id % 7 = 3 AND i = 0
                  THEN array_to_string(
                         w[i * {REP_LINE_WORDS} + 1 :
                           i * {REP_LINE_WORDS} + {REP_LINE_WORDS}], ' ')
                       || '...'
                  ELSE array_to_string(
                         w[i * {REP_LINE_WORDS} + 1 :
                           i * {REP_LINE_WORDS} + {REP_LINE_WORDS}], ' ')
                END)
             AS lines
  FROM c),
t AS (
  SELECT doc_id,
         array_to_string(lines[1:h], chr(10)) AS s1,
         array_to_string(
           lines[h + 1:nl]
             || list_transform(generate_series(1, k), x -> lines[1]),
           chr(10)) AS s2
  FROM l),
r AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 2
              THEN s1 || chr(10) || chr(10) || s2
                      || chr(10) || chr(10) || s1
              ELSE s1 || chr(10) || chr(10) || s2 END AS text
  FROM t),
m AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(text, chr(10)),
                               x -> trim(x)), x -> x <> '') AS ls,
    list_filter(list_transform(string_split_regex(text, '\n\n+'),
                               x -> trim(x)), x -> x <> '') AS ps
  FROM r),
f AS (
  SELECT doc_id,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS d_lines,
    CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0)
         AS BIGINT) AS lc,
    CAST(COALESCE(list_sum(list_transform(list_distinct(ls),
                                          x -> length(x))), 0)
         AS BIGINT) AS lcd,
    CAST(len(ps) AS BIGINT) AS n_paras,
    CAST(len(ps) - len(list_distinct(ps)) AS BIGINT) AS d_paras,
    CAST(COALESCE(list_sum(list_transform(ps, x -> length(x))), 0)
         AS BIGINT) AS pc,
    CAST(COALESCE(list_sum(list_transform(list_distinct(ps),
                                          x -> length(x))), 0)
         AS BIGINT) AS pcd,
    CAST(len(list_filter(ls, x -> x LIKE '-%' OR x LIKE '*%'
                                  OR x LIKE '•%')) AS BIGINT) AS nb,
    CAST(len(list_filter(ls, x -> x LIKE '%...' OR x LIKE '%…'))
         AS BIGINT) AS ne
  FROM m)
SELECT doc_id, n_lines,
  round(CASE WHEN n_lines > 0
        THEN CAST(d_lines AS DOUBLE) / n_lines ELSE 0.0 END, 6)
      AS dup_line_frac,
  round(CASE WHEN lc > 0
        THEN CAST(lc - lcd AS DOUBLE) / lc ELSE 0.0 END, 6)
      AS dup_line_char_frac,
  n_paras,
  round(CASE WHEN n_paras > 0
        THEN CAST(d_paras AS DOUBLE) / n_paras ELSE 0.0 END, 6)
      AS dup_para_frac,
  round(CASE WHEN pc > 0
        THEN CAST(pc - pcd AS DOUBLE) / pc ELSE 0.0 END, 6)
      AS dup_para_char_frac,
  round(CASE WHEN n_lines > 0
        THEN CAST(nb AS DOUBLE) / n_lines ELSE 0.0 END, 6)
      AS bullet_line_frac,
  round(CASE WHEN n_lines > 0
        THEN CAST(ne AS DOUBLE) / n_lines ELSE 0.0 END, 6)
      AS ellipsis_line_frac
FROM f
"""


SQL_RELATIONAL_DEMO_SUITE = f"""
SELECT 'collect_statuses' AS section, o_orderpriority AS k,
       CAST(n AS DOUBLE) AS v_num, statuses AS v_str
FROM ({SQL_COLLECT_STATUSES})
UNION ALL
SELECT 'pivot_order_status', o_orderpriority,
       CAST(n_f + n_o + n_p AS DOUBLE), concat_ws(',', n_f, n_o, n_p)
FROM ({SQL_PIVOT_ORDER_STATUS})
UNION ALL
SELECT 'distinct_suppliers', l_returnflag, CAST(n_suppliers AS DOUBLE),
       CAST(n_parts AS VARCHAR)
FROM ({SQL_DISTINCT_SUPPLIERS})
UNION ALL
SELECT 'small_quantity_revenue', 'total', total_price,
       CAST(n_items AS VARCHAR)
FROM ({SQL_SMALL_QUANTITY_REVENUE})
UNION ALL
SELECT 'setops_customers', CAST(c_custkey AS VARCHAR),
       CAST(c_custkey AS DOUBLE), ''
FROM ({SQL_SETOPS_CUSTOMERS})
UNION ALL
SELECT 'semi_anti_gate', c_mktsegment, CAST(n_customers AS DOUBLE), ''
FROM ({SQL_SEMI_ANTI_GATE})
UNION ALL
SELECT 'nearest_price_parts', CAST(p_partkey AS VARCHAR), dist, ''
FROM ({SQL_NEAREST_PRICE_PARTS})
UNION ALL
SELECT 'dominant_suppliers', CAST(s_suppkey AS VARCHAR),
       CAST(s_suppkey AS DOUBLE), s_name
FROM ({SQL_DOMINANT_SUPPLIERS})
UNION ALL
SELECT 'shared_passages', doc_a || ':' || doc_b, CAST(n_shared AS DOUBLE),
       ''
FROM ({_sql_shared_passages()})
UNION ALL
SELECT 'chunking', doc_id || ':' || chunk_no || ':' || n_chunks,
       CAST(chunk_words AS DOUBLE), md5(chunk_text)
FROM ({_SQL_CHUNKING})
UNION ALL
SELECT 'quality_lm', CAST(doc_id AS VARCHAR), bits_per_word,
       lm_bucket || ':' || CAST(n_words AS VARCHAR)
FROM ({_SQL_QUALITY_LM})
UNION ALL
SELECT 'domain_mixture', doc_id || ':' || copy_no,
       CAST(doc_id AS DOUBLE), lang
FROM ({_SQL_DOMAIN_MIXTURE})
UNION ALL
SELECT 'crawl_diff', CAST(doc_id AS VARCHAR), 1.0,
       status || ':' || COALESCE(old_hash, '-') || ':'
              || COALESCE(new_hash, '-')
FROM ({_SQL_CRAWL_DIFF})
UNION ALL
SELECT 'quality_clf', 'separation', CAST(2 * COUNT(*) AS DOUBLE), 'true'
FROM documents
UNION ALL
SELECT 'passage_excision', CAST(doc_id AS VARCHAR),
       CAST(chars_removed AS DOUBLE),
       md5(clean_text) || ':' || CAST(n_spans AS VARCHAR)
FROM ({_sql_passage_excision()})
UNION ALL
SELECT 'repetition', CAST(doc_id AS VARCHAR), dup_line_frac,
       CAST(n_lines AS VARCHAR)
       || ':' || CAST(CAST(round(dup_line_char_frac * 1000000)
                           AS BIGINT) AS VARCHAR)
       || ':' || CAST(n_paras AS VARCHAR)
       || ':' || CAST(CAST(round(dup_para_frac * 1000000)
                           AS BIGINT) AS VARCHAR)
       || ':' || CAST(CAST(round(dup_para_char_frac * 1000000)
                           AS BIGINT) AS VARCHAR)
       || ':' || CAST(CAST(round(bullet_line_frac * 1000000)
                           AS BIGINT) AS VARCHAR)
       || ':' || CAST(CAST(round(ellipsis_line_frac * 1000000)
                           AS BIGINT) AS VARCHAR)
FROM ({_SQL_REPETITION})
"""


# --------------------------------------------------------------------------
# Text metrics — lang-ID, quality, token counts, repetition in ONE scan.
#
# REP_THRESHOLD (within-document repetition, MassiveText-style: fraction of
# duplicated word 3-grams) is a deployment parameter (MassiveText flags at
# ~0.2+); the default is 0.01 because the synthetic test corpus tops out
# near 0.04-0.08 dup ratio — a 0.3 flag would pass vacuously on zero
# flagged docs (27-287 docs flag at 0.01 across SFs).
# --------------------------------------------------------------------------

REP_THRESHOLD = 0.01


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID scores, the quality score, whitespace and BPE-ish
    token counts and the duplicated-3-gram ratio from one documents scan:
    every metric is a column expression over the same materialized
    `words` array (separate queries would each re-scan the corpus — this
    is the plan you'd actually run at 100 TB)."""
    d = _t(spark, sf_dir, "documents").withColumn("words", _norm_words())
    t = F.col("text")
    scores = lang_scores(t)
    base = d.select(
        "doc_id",
        "lang",
        *[c.cast("long").alias(f"s_{k}") for k, c in scores.items()],
        F.size("words").cast("long").alias("n_tokens"),
        n_punct(t).cast("long").alias("n_punct"),
        n_stopwords(t).cast("long").alias("n_stopwords"),
        n_nonspace(t).cast("long").alias("n_nonspace"),
        F.size(
            F.regexp_extract_all(
                F.lower(t), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), F.lit(1)
            )
        ).cast("long").alias("bpe_tokens"),
        _shingles(F.col("words")).alias("sh"),
        # deterministic hash split (r3): first two md5 nibbles -> 0..255,
        # ~90/5/5 train/val/test. Content-hash based so the assignment is
        # stable across runs, partitions, and engines (the property a
        # train/val split MUST have at 100 TB — never rand())
        F.expr(
            "16 * (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1)"
            " + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)"
        ).cast("long").alias("split_v"),
    )
    n_sh = F.size("sh")
    n_dup = n_sh - F.size(F.array_distinct("sh"))
    return base.select(
        "doc_id",
        "lang",
        *[f"s_{k}" for k in scores],
        pred_lang({k: F.col(f"s_{k}") for k in scores}).alias("pred_lang"),
        "n_tokens",
        "n_punct",
        "n_stopwords",
        F.round(
            F.col("n_stopwords").cast("double") / F.col("n_tokens"), 6
        ).alias("stopword_ratio"),
        F.round(
            F.col("n_nonspace").cast("double") / F.col("n_tokens"), 6
        ).alias("avg_word_len"),
        quality_ok(F.col("n_tokens"), F.col("n_punct")).alias("quality_ok"),
        "bpe_tokens",
        n_sh.cast("long").alias("n_ngrams"),
        F.round(
            F.when(n_sh > 0, n_dup.cast("double") / n_sh).otherwise(0.0), 6
        ).alias("dup_ratio"),
        ((n_sh > 0) & (n_dup.cast("double") > n_sh * REP_THRESHOLD)).alias(
            "repetitive"
        ),
        F.when(F.col("split_v") < 230, "train")
        .when(F.col("split_v") < 243, "val")
        .otherwise("test")
        .alias("split"),
    )


SQL_TEXT_METRICS = rf"""
WITH b AS (
  SELECT doc_id, lang, text, {_SQL_WORDS} AS words FROM documents),
s AS (
  SELECT doc_id, lang,
    {_SQL_LANG_SCORES},
    len(words) AS n_tokens,
    {_SQL_N_PUNCT} AS n_punct,
    {_SQL_N_STOPWORDS} AS n_stopwords,
    {_SQL_N_NONSPACE} AS n_nonspace,
    len(regexp_extract_all(lower(text),
        '([a-z]+|[0-9]+|[^a-z0-9{_SQL_SPACE_CHARS}])', 1))
        AS bpe_tokens,
    {_SQL_SHINGLES_FROM_WORDS} AS sh,
    16 * (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
      + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS split_v
  FROM b)
SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
  {_SQL_PRED_LANG} AS pred_lang,
  n_tokens, n_punct, n_stopwords,
  round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
  round(CAST(n_nonspace AS DOUBLE) / n_tokens, 6) AS avg_word_len,
  {_SQL_QUALITY_OK} AS quality_ok,
  bpe_tokens,
  CAST(len(sh) AS BIGINT) AS n_ngrams,
  round(CASE WHEN len(sh) > 0
        THEN CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh)
        ELSE 0.0 END, 6) AS dup_ratio,
  len(sh) > 0 AND CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
                  > len(sh) * {REP_THRESHOLD}
      AS repetitive,
  CASE WHEN split_v < 230 THEN 'train'
       WHEN split_v < 243 THEN 'val'
       ELSE 'test' END AS split
FROM s
"""


# --------------------------------------------------------------------------
# Best config — global + by-lang sweep sections from ONE aggregation.
# A7: the reference tuner evaluates sampled configs into a results log and
# keeps the max-value config per metric; here a deterministic config grid
# (LCG arithmetic — engine-portable "random search") is broadcast against
# per-document features from one corpus pass. operators/tuning.py is the
# real kernel-threshold sweep over the golden corpus.
# --------------------------------------------------------------------------

N_CONFIGS = 12


def q_best_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """best_config_per_metric + best_config_by_lang merged: the sweep log
    is aggregated once with GROUPING SETS ((lang, cfg), (cfg)) — the ()
    section is the old global query (lang='ALL'), the (lang) sections the
    old by-lang query — then melted and ranked per (lang, metric). One
    corpus pass instead of two."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.size(_norm_words()).cast("long").alias("n_tokens"),
        n_punct(F.col("text")).cast("long").alias("n_punct"),
    )
    grid = F.broadcast(
        spark.range(N_CONFIGS).select(
            F.col("id").cast("int").alias("config_id"),
            (5 + (F.col("id") * 17) % 60).cast("int").alias("min_tok"),
            (1 + (F.col("id") * 5) % 7).cast("int").alias("max_p"),
        )
    )
    j = base.crossJoin(grid)
    cfg_pass = (F.col("n_tokens") >= F.col("min_tok")) & (
        F.col("n_punct") * 10 <= F.col("n_tokens") * F.col("max_p")
    )
    frozen_pass = quality_ok(F.col("n_tokens"), F.col("n_punct"))
    j.withColumn("cfg_pass", cfg_pass).withColumn(
        "frozen_pass", frozen_pass
    ).createOrReplaceTempView("_cfg_sweep_all")
    log = spark.sql(
        """
        SELECT CASE WHEN grouping(lang) = 1 THEN 'ALL' ELSE lang END
                   AS lang,
               config_id, min_tok, max_p,
               round(avg(CAST(cfg_pass AS INT)), 6) AS pass_rate,
               round(avg(CAST(cfg_pass = frozen_pass AS INT)), 6)
                   AS agree_rate,
               round(coalesce(
                   avg(CASE WHEN cfg_pass THEN n_tokens END), 0.0), 6)
                   AS mean_tokens_pass
        FROM _cfg_sweep_all
        GROUP BY GROUPING SETS ((lang, config_id, min_tok, max_p),
                                (config_id, min_tok, max_p))
        """
    )
    metrics = ["pass_rate", "agree_rate", "mean_tokens_pass"]
    stack_args = ", ".join(f"'{m}', {m}" for m in metrics)
    melted = log.select(
        "lang",
        F.expr(f"stack({len(metrics)}, {stack_args}) AS (metric, value)"),
        "config_id",
        "min_tok",
        "max_p",
    )
    win = W.partitionBy("lang", "metric").orderBy(
        F.col("value").desc(), F.col("config_id")
    )
    return (
        melted.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("lang", "metric", "value", "config_id", "min_tok", "max_p")
    )


SQL_BEST_CONFIG = rf"""
WITH base AS (
  SELECT lang,
         len({_SQL_WORDS}) AS n_tokens,
         {_SQL_N_PUNCT} AS n_punct
  FROM documents),
grid AS (
  SELECT CAST(i AS INT) AS config_id,
         CAST(5 + (i * 17) % 60 AS INT) AS min_tok,
         CAST(1 + (i * 5) % 7 AS INT) AS max_p
  FROM (SELECT unnest(range(0, {N_CONFIGS})) AS i)),
j AS (
  SELECT *,
         n_tokens >= min_tok AND n_punct * 10 <= n_tokens * max_p
             AS cfg_pass,
         {_SQL_QUALITY_OK} AS frozen_pass
  FROM base, grid),
log AS (
  -- GROUPING(), not COALESCE: a genuine NULL-lang data group must not
  -- collide with the global 'ALL' section
  SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
         config_id, min_tok, max_p,
         round(avg(CAST(cfg_pass AS INT)), 6) AS pass_rate,
         round(avg(CAST(cfg_pass = frozen_pass AS INT)), 6) AS agree_rate,
         round(COALESCE(avg(n_tokens) FILTER (cfg_pass), 0.0), 6)
             AS mean_tokens_pass
  FROM j
  GROUP BY GROUPING SETS ((lang, config_id, min_tok, max_p),
                          (config_id, min_tok, max_p))),
melted AS (
  SELECT lang, 'pass_rate' AS metric, pass_rate AS value,
         config_id, min_tok, max_p FROM log
  UNION ALL
  SELECT lang, 'agree_rate', agree_rate, config_id, min_tok, max_p FROM log
  UNION ALL
  SELECT lang, 'mean_tokens_pass', mean_tokens_pass, config_id, min_tok,
         max_p FROM log)
SELECT lang, metric, value, config_id, min_tok, max_p
FROM melted
QUALIFY row_number() OVER (PARTITION BY lang, metric
                           ORDER BY value DESC, config_id) = 1
"""


# --------------------------------------------------------------------------
# Doc signatures — min-k fingerprint + char entropy joined per doc (both
# are per-doc explode-aggregate shapes; merged r3 to free a registry slot
# for line_dedup).
# --------------------------------------------------------------------------


def q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_text import q_char_entropy, q_fingerprint

    return q_fingerprint(spark, sf_dir).join(
        q_char_entropy(spark, sf_dir), "doc_id"
    )


def _sql_doc_signatures() -> str:
    from .queries_text import SQL_CHAR_ENTROPY, SQL_FINGERPRINT

    return f"""
SELECT f.doc_id, f.fingerprint, e.entropy
FROM ({SQL_FINGERPRINT}) f JOIN ({SQL_CHAR_ENTROPY}) e
  ON f.doc_id = e.doc_id
"""


SQL_DOC_SIGNATURES = _sql_doc_signatures()


# --------------------------------------------------------------------------
# Embedding near-dups — baseline + LSH scale path, method-tagged.
# --------------------------------------------------------------------------


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocked = q_embedding_near_dups(spark, sf_dir).select(
        F.lit("label_block").alias("method"), "id_a", "id_b", "cosine"
    )
    lsh = q_embedding_near_dups_lsh(spark, sf_dir).select(
        F.lit("lsh_bucket").alias("method"), "id_a", "id_b", "cosine"
    )
    return blocked.unionByName(lsh)


SQL_EMBEDDING_NEAR_DUP_PAIRS = f"""
SELECT 'label_block' AS method, id_a, id_b, cosine
FROM ({SQL_EMBEDDING_NEAR_DUPS})
UNION ALL
SELECT 'lsh_bucket', id_a, id_b, cosine
FROM ({SQL_EMBEDDING_NEAR_DUPS_LSH})
"""


# --------------------------------------------------------------------------
# Sessionize — lag-form per-user rollup + native session_window rows.
# --------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two sessionization forms, form-tagged on a shared schema:
    per_user rows are (n_events, n_sessions, 0) from the lag/gap-island
    form; per_session rows are (start_us, end_us, n_events) from Spark's
    native session_window. Both gated by the same oracle."""
    lag = q_user_sessions(spark, sf_dir).select(
        F.lit("per_user").alias("form"),
        "user_id",
        F.col("n_events").cast("long").alias("v1"),
        F.col("n_sessions").cast("long").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
    )
    native = q_session_window_agg(spark, sf_dir).select(
        F.lit("per_session").alias("form"),
        "user_id",
        F.col("session_start_us").alias("v1"),
        F.col("session_end_us").alias("v2"),
        F.col("n_events").cast("long").alias("v3"),
    )
    return lag.unionByName(native)


SQL_SESSIONIZE = f"""
SELECT 'per_user' AS form, user_id, CAST(n_events AS BIGINT) AS v1,
       CAST(n_sessions AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
FROM ({SQL_USER_SESSIONS})
UNION ALL
SELECT 'per_session', user_id, session_start_us, session_end_us,
       CAST(n_events AS BIGINT)
FROM ({SQL_SESSION_WINDOW_AGG})
"""
