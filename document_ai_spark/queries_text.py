"""Text-analysis operators over the documents table: language-ID, quality
scoring (basic + Gopher rule pack), fingerprints (min-k + winnowing),
heavy hitters, line dedup, character entropy, PII detect/redact, frame
sampling, and the 1-D find-next-right-word KV query.

Every query here is DuckDB-oracle-checked; the parity tricks are
documented in queries_ml's module docstring (shared policy). The rule
expressions (language scores, quality inputs, Gopher pack) and the text
normalization are the shared builders of queries_base.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .queries import _t
from .queries_base import (
    _norm_text,
    _norm_words,
    _shingles,
    _SQL_GOPHER_OK,
    _SQL_GOPHER_SIGNALS,
    _SQL_LANG_SCORES,
    _SQL_N_NONSPACE,
    _SQL_N_PUNCT,
    _SQL_N_STOPWORDS,
    _SQL_NORM_TEXT,
    _SQL_PRED_LANG,
    _SQL_QUALITY_OK,
    _SQL_SHINGLES_FROM_WORDS,
    _SQL_SPACE,
    _SQL_WORDS,
    _SQL_WORDS_CTE,
    gopher_signals,
    lang_scores,
    n_nonspace,
    n_punct,
    n_stopwords,
    pred_lang,
    quality_ok,
)

# --------------------------------------------------------------------------
# Text analysis: language-ID heuristic, quality score, min-k fingerprint
# --------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    d2 = d.select(
        "doc_id", "lang",
        *[c.cast("long").alias(f"s_{k}") for k, c in scores.items()],
    )
    return d2.select(
        "doc_id", "lang", *[f"s_{k}" for k in scores],
        pred_lang({k: F.col(f"s_{k}") for k in scores}).alias("pred_lang"),
    )


SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang, {_SQL_LANG_SCORES}
  FROM documents)
SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
  {_SQL_PRED_LANG} AS pred_lang
FROM s
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_tokens = F.size(_norm_words())
    stop_hits = n_stopwords(t)
    punct = n_punct(t)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        punct.cast("long").alias("n_punct"),
        stop_hits.cast("long").alias("n_stopwords"),
        F.round(stop_hits.cast("double") / n_tokens, 6).alias(
            "stopword_ratio"
        ),
        F.round(n_nonspace(t).cast("double") / n_tokens, 6).alias(
            "avg_word_len"
        ),
        quality_ok(n_tokens, punct).alias("quality_ok"),
    )


SQL_QUALITY_SCORE = f"""
WITH b AS (
  SELECT doc_id,
    len({_SQL_WORDS}) AS n_tokens,
    {_SQL_N_PUNCT} AS n_punct,
    {_SQL_N_STOPWORDS} AS n_stopwords,
    {_SQL_N_NONSPACE} AS n_nonspace
  FROM documents)
SELECT doc_id, n_tokens, n_punct, n_stopwords,
       round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       round(CAST(n_nonspace AS DOUBLE) / n_tokens, 6) AS avg_word_len,
       {_SQL_QUALITY_OK} AS quality_ok
FROM b
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k (k=5) document fingerprint over shingle hashes, as a joined
    string (engine-portable)."""
    d = _t(spark, sf_dir, "documents")
    # dedup PER DOC (array_distinct), never globally: collect_set below
    # already dedups map-side inside the partial aggregate, so the old
    # `.distinct()` on the exploded (doc_id, md5) rows was a second full
    # shuffle of the same data for zero information (r5; the MinHash
    # stage, queries_base.minhash_signatures, dedups per doc in a Python
    # set); array_distinct just saves the md5 work on repeated shingles
    sh = d.withColumn("words", _norm_words()).select(
        "doc_id",
        F.explode(F.array_distinct(_shingles(F.col("words")))).alias(
            "shingle"
        ),
    )
    hashed = sh.select(
        "doc_id", F.md5(F.encode("shingle", "UTF-8")).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        F.concat_ws(
            ",", F.slice(F.array_sort(F.collect_set("h")), 1, 5)
        ).alias("fingerprint")
    )


SQL_FINGERPRINT = f"""
SELECT doc_id,
       array_to_string(list_sort(list(DISTINCT md5(shingle)))[1:5], ',')
           AS fingerprint
FROM (SELECT DISTINCT doc_id,
             unnest({_SQL_SHINGLES_FROM_WORDS}) AS shingle
      FROM ({_SQL_WORDS_CTE}))
GROUP BY doc_id
"""




# --------------------------------------------------------------------------
# "Find next right word" in 1-D text (the reference's signature geometric
# KV query, document_parsing.py:132-198, flattened to text order): for the
# FIRST occurrence of each key per document, the word immediately after it
# (regexp_extract returns the first match in both engines; the true 2-D
# box form is queries_spatial.q_next_right_word_2d).
# --------------------------------------------------------------------------

_KV_KEYS = ["spark", "window", "batch"]


def q_next_word_after_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # Spark's regexp_extract needs a foldable pattern -> one extract column
    # per key in a SINGLE projection, then stack() to rows (a per-key union
    # re-scans the table once per key — 3 scans of the corpus, measured)
    extracts = [
        F.regexp_extract(F.col("text"), rf"\b{key}\s+([a-z]+)", 1)
        .alias(f"v{i}")
        for i, key in enumerate(_KV_KEYS)
    ]
    wide = d.select("doc_id", *extracts)
    stack_args = ", ".join(
        f"'{key}', v{i}" for i, key in enumerate(_KV_KEYS)
    )
    tall = wide.select(
        "doc_id",
        F.expr(f"stack({len(_KV_KEYS)}, {stack_args}) AS (key, v)"),
    )
    return tall.select(
        "doc_id", "key",
        F.when(F.col("v") == "", F.lit("<NOT_FOUND>"))
        .otherwise(F.col("v")).alias("next_word"),
    )


SQL_NEXT_WORD_AFTER_KEY = rf"""
SELECT doc_id, key,
       CASE WHEN v = '' OR v IS NULL THEN '<NOT_FOUND>' ELSE v END
           AS next_word
FROM (
  SELECT doc_id, key,
         regexp_extract(text, '\b' || key || '{_SQL_SPACE}+([a-z]+)', 1)
           AS v
  FROM documents,
       (SELECT unnest(['spark','window','batch']) AS key))
"""




# --------------------------------------------------------------------------
# Winnowing fingerprint (k-gram polynomial hash + window minima) — the
# classic local document fingerprint (Schleimer et al., "Winnowing").
# Output is exploded (doc_id, pos, fingerprint) rows — engine-portable
# scalar columns per the repo parity rules (no array columns across the
# driver's canonicalizer). The Spark side is a numpy-vectorized kernel
# (no per-character Python); the oracle does the identical integer math in
# DuckDB SQL, so the entry is fully hash-checked.
#
# Spec (shared by both engines):
#   t   = first 2^24 chars of lower(regexp_replace(trim(text),'\s+',' '))
#   h_i = sum_{j=0..7} codepoint(t[i+j]) * 257^(7-j)  mod  (2^31 - 1)
#         for 0-based i in [0, len(t)-8]
#   window w of size 5 over h selects argmin by (hash, position); each
#   selected position is recorded once -> rows (doc_id, pos, fingerprint).
# The Mersenne-31 modulus keeps every intermediate below 2^55, so the sum
# fits both numpy uint64 and SQL BIGINT with a single final mod.
# --------------------------------------------------------------------------

_WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
    ]
)

_RK_BASE = 257
_RK_MOD = (1 << 31) - 1
_KGRAM = 8
_WINDOW = 5
_POS_BITS = 24  # (hash, pos) packed into one key: pos < 2^24 enforced by cap
_RK_POWS = [pow(_RK_BASE, _KGRAM - 1 - j, _RK_MOD) for j in range(_KGRAM)]


def _winnow_np(s: str) -> tuple[np.ndarray, np.ndarray]:
    """(positions, fingerprints) of the winnowed k-gram hashes of an
    already-normalized string — pure numpy, no per-character Python."""
    empty = (np.empty(0, np.int64), np.empty(0, np.int64))
    n = len(s)
    if n < _KGRAM:
        return empty
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    n_grams = n - _KGRAM + 1
    h = np.zeros(n_grams, np.uint64)
    for j, p in enumerate(_RK_POWS):  # 8 vectorized passes, one per offset
        h += cp[j : j + n_grams] * np.uint64(p)
    h %= np.uint64(_RK_MOD)
    if n_grams < _WINDOW:
        return empty
    # pack (hash, pos) so a single sliding-window min realizes the
    # (value, position) argmin tie-break
    key = (h << np.uint64(_POS_BITS)) + np.arange(n_grams, dtype=np.uint64)
    m = np.lib.stride_tricks.sliding_window_view(key, _WINDOW).min(axis=1)
    keep = np.empty(len(m), dtype=bool)
    keep[0] = True
    keep[1:] = m[1:] != m[:-1]  # same pos only ever wins consecutive windows
    sel = m[keep]
    pos = (sel & np.uint64((1 << _POS_BITS) - 1)).astype(np.int64)
    fp = (sel >> np.uint64(_POS_BITS)).astype(np.int64)
    return pos, fp


def _winnow_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        ids, poss, fps = [], [], []
        for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
            pos, fp = _winnow_np(t or "")
            # dtype=object keeps the id type-generic (long doc_ids from
            # the documents table, string urls from extracted tables);
            # Arrow casts to the declared per-input schema
            ids.append(np.full(len(pos), doc_id, dtype=object))
            poss.append(pos)
            fps.append(fp)
        yield pd.DataFrame(
            {
                "doc_id": np.concatenate(ids) if ids else [],
                "pos": np.concatenate(poss) if poss else [],
                "fingerprint": np.concatenate(fps) if fps else [],
            }
        )


def _winnow_text(text_col: str = "text") -> F.Column:
    """The winnowing normalization — winnow positions (and the passage
    spans of operators/passages) index into THIS string. The truncation
    cap is 1 << _POS_BITS by CONSTRUCTION: positions are packed into the
    low _POS_BITS of the (hash, pos) key, so any position that survives
    packing also indexes into this slice."""
    return F.substring(F.lower(_norm_text(text_col)), 1, 1 << _POS_BITS)


def winnow_fingerprints_df(d: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, pos, fingerprint) winnowed rows —
    the reusable form (q_winnow_fingerprint and the shared-passages /
    passage-excision suite branches build on it). doc_id keeps the
    input's type (r5: url-keyed extracted tables excise too)."""
    norm = d.select("doc_id", _winnow_text().alias("t"))
    id_type = d.schema["doc_id"].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type)]
        + [f for f in _WINNOW_SCHEMA.fields[1:]]
    )
    return norm.mapInPandas(_winnow_batches, schema=schema)


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints_df(_t(spark, sf_dir, "documents"))


_SQL_WINNOW_TEXT = f"substr(lower({_SQL_NORM_TEXT}), 1, {1 << _POS_BITS})"
_SQL_WINNOW_TERMS = " + ".join(
    f"cp[i+{j}] * {p}" for j, p in enumerate(_RK_POWS)
)


def sql_winnow_fingerprint(src: str = "documents") -> str:
    """DuckDB twin of winnow_fingerprints_df over any (doc_id, text)
    relation `src` (a table name or a parenthesized subquery)."""
    return rf"""
WITH s AS (
  SELECT doc_id,
         {_SQL_WINNOW_TEXT} AS t
  FROM {src}),
cps AS (
  SELECT doc_id,
         list_transform(str_split(t, ''),
                        ch -> CAST(unicode(ch) AS BIGINT)) AS cp,
         length(t) AS n
  FROM s WHERE length(t) >= {_KGRAM}),
h AS (
  SELECT doc_id, i, ({_SQL_WINNOW_TERMS}) % {_RK_MOD} AS hv
  FROM (SELECT doc_id, cp, unnest(range(1, n - {_KGRAM} + 2)) AS i
        FROM cps)),
win AS (
  SELECT doc_id, i,
         min(hv * {1 << _POS_BITS} + (i - 1)) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND {_WINDOW - 1} FOLLOWING) AS mkey,
         count(*) OVER (PARTITION BY doc_id) AS nh
  FROM h)
SELECT DISTINCT doc_id,
       CAST(mkey % {1 << _POS_BITS} AS BIGINT) AS pos,
       CAST(mkey // {1 << _POS_BITS} AS BIGINT) AS fingerprint
FROM win WHERE i <= nh - {_WINDOW - 1}
"""


SQL_WINNOW_FINGERPRINT = sql_winnow_fingerprint()




# --------------------------------------------------------------------------
# Corpus heavy hitters: global top-k terms — the canonical training-data
# vocabulary probe. Partial+final hash aggregation on a uniform key, then
# a global TakeOrderedAndProject (no full sort at scale).
# --------------------------------------------------------------------------

def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(_norm_words()).alias("term")
    ).filter(F.col("term") != "")
    return (
        tok.groupBy(F.lower("term").alias("term"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


SQL_TOP_TERMS = f"""
SELECT lower(token) AS term, COUNT(*) AS n
FROM (SELECT unnest({_SQL_WORDS}) AS token FROM documents)
WHERE token <> ''
GROUP BY lower(token)
ORDER BY n DESC, term
LIMIT 50
"""




# --------------------------------------------------------------------------
# Line-level corpus dedup (C4/CCNet-style boilerplate removal, r3): a line
# occurring in more than LINE_DEDUP_MAX_DOCS distinct documents is chrome
# ("subscribe to our newsletter") and is dropped from EVERY document; rare
# lines survive. Fully relational: explode lines with position, count
# distinct docs per normalized line (shuffle on a uniform line-hash key —
# exactly how the production C4 pipeline ran), anti-filter, reassemble in
# original order. The driver's synthetic corpus has no naturally repeated
# lines, so two marker lines are injected IN the query: a frequent one
# (every 10th doc -> dropped) and a rare one (every 100th doc -> kept).
# --------------------------------------------------------------------------

LINE_DEDUP_MAX_DOCS = 5
_LD_FREQ = "Subscribe to our newsletter today"
_LD_RARE = "Rare promo line"


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0,
                   F.lit("\n" + _LD_FREQ)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 100 == 0,
                   F.lit("\n" + _LD_RARE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    lines = d.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    key = F.lower(F.trim(F.col("line")))
    counts = (
        lines.filter(key != "")
        .select(key.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    kept = (
        lines.withColumn("k", key)
        .join(counts, "k", "left")
        .filter(
            F.col("n_docs").isNull()
            | (F.col("n_docs") <= LINE_DEDUP_MAX_DOCS)
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line"))
                    ),
                    lambda s: s.line,
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", "n_kept", F.length("clean_text").alias(
            "clean_len"), "clean_text")
    )


SQL_LINE_DEDUP = f"""
WITH d AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 10 = 0
                 THEN chr(10) || '{_LD_FREQ}' ELSE '' END
         || CASE WHEN doc_id % 100 = 0
                 THEN chr(10) || '{_LD_RARE}' ELSE '' END AS text
  FROM documents),
ls AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM d),
lines AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(0, len(ls))) AS line_no
  FROM ls),
counts AS (
  SELECT lower(trim(line)) AS k, COUNT(DISTINCT doc_id) AS n_docs
  FROM lines WHERE lower(trim(line)) <> '' GROUP BY 1),
kept AS (
  SELECT lines.* FROM lines
  LEFT JOIN counts ON lower(trim(lines.line)) = counts.k
  WHERE n_docs IS NULL OR n_docs <= {LINE_DEDUP_MAX_DOCS})
SELECT doc_id, COUNT(*) AS n_kept,
       CAST(length(string_agg(line, chr(10) ORDER BY line_no)) AS BIGINT)
           AS clean_len,
       string_agg(line, chr(10) ORDER BY line_no) AS clean_text
FROM kept GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Character-entropy quality signal (low-entropy docs are boilerplate /
# repeated-token spam; a standard webtext filter). Columnar: explode chars,
# per-char counts, -sum(p*log2(p)) rounded to 6dp in both engines.
# --------------------------------------------------------------------------

def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split(_norm_text(), "")).alias("c")
    ).filter(F.col("c") != "")
    counts = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"))
    )


SQL_CHAR_ENTROPY = f"""
WITH ch AS (
  SELECT doc_id, unnest(str_split({_SQL_NORM_TEXT}, '')) AS c
  FROM documents),
counts AS (
  SELECT doc_id, c, COUNT(*) AS n FROM ch WHERE c <> '' GROUP BY doc_id, c),
tot AS (SELECT doc_id, SUM(n) AS total FROM counts GROUP BY doc_id)
SELECT counts.doc_id,
       round(-SUM((CAST(n AS DOUBLE) / total)
                  * log2(CAST(n AS DOUBLE) / total)), 6) AS entropy
FROM counts JOIN tot ON counts.doc_id = tot.doc_id
GROUP BY counts.doc_id
"""


# --------------------------------------------------------------------------
# Video frame sampling (multimodal M6 subdivide over binary payloads) made
# oracle-checkable: the stub frame extractor takes deterministic byte
# slices, so DuckDB reproduces every frame by slicing hex(payload) (DuckDB
# cannot substring BLOBs; 2 hex chars per byte). Frames are emitted as hex
# strings for engine-portable comparison.
# --------------------------------------------------------------------------

def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import MEDIA_SCHEMA, sample_frames

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("video/x-fake").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (100 + F.col("doc_id") % 400).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    assert [f.name for f in MEDIA_SCHEMA.fields] == [
        "media_id", "kind", "payload", "mime", "meta"
    ]
    frames = sample_frames(media, n_frames=4)
    return frames.select(
        "media_id", "frame_no", "ts_ms",
        F.hex("frame").alias("frame_hex"),
    )


SQL_FRAME_SAMPLES = """
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS payload_hex,
         octet_length(encode(text)) AS plen,
         100 + (doc_id % 400) AS dur
  FROM documents),
f AS (
  SELECT doc_id, payload_hex, plen, dur, dur // 4 AS step,
         unnest(range(0, 4)) AS fno
  FROM m WHERE plen > 0 AND dur > 0)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(fno AS INT) AS frame_no,
       CAST(fno * step AS INT) AS ts_ms,
       substring(payload_hex,
                 2 * ((fno * step * 31) % greatest(plen, 1)) + 1,
                 128) AS frame_hex
FROM f
"""




# --------------------------------------------------------------------------
# Gopher-style quality rule pack (queries_base.gopher_signals): one scan,
# all rules as column expressions.
# --------------------------------------------------------------------------

def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = _norm_words()
    n_words = F.size(words)
    g = gopher_signals(F.col("text"), words, n_words)
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(g["mean_wl"], 6).alias("mean_word_len"),
        F.round(g["n_alpha"].cast("double") / n_words, 6).alias(
            "alpha_word_ratio"
        ),
        F.round(g["n_sym"].cast("double") / n_words, 6).alias(
            "symbol_ratio"
        ),
        g["n_stop"].cast("long").alias("n_stopwords"),
        g["gopher_ok"].alias("gopher_ok"),
    )


SQL_QUALITY_GOPHER = f"""
WITH w AS (SELECT doc_id, text, {_SQL_WORDS} AS words FROM documents),
b AS (
  SELECT doc_id, len(words) AS n_words, {_SQL_GOPHER_SIGNALS}
  FROM w)
SELECT doc_id, n_words,
       round(CAST(n_nonspace AS DOUBLE) / n_words, 6) AS mean_word_len,
       round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_word_ratio,
       round(CAST(n_sym AS DOUBLE) / n_words, 6) AS symbol_ratio,
       n_stop AS n_stopwords,
       {_SQL_GOPHER_OK} AS gopher_ok
FROM b
"""


# --------------------------------------------------------------------------
# PII detect + redact (crawl-pipeline scrubbing). The synthetic corpus has
# no PII, so each doc gets a deterministic injected email + IPv4 FIRST —
# the detection/redaction then has a known non-vacuous answer per doc.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".1 "),
        F.col("text"),
    )
    n_emails = F.size(
        F.regexp_extract_all(injected, F.lit(f"({_EMAIL_RE})"), F.lit(1))
    )
    n_ips = F.size(
        F.regexp_extract_all(injected, F.lit(f"({_IPV4_RE})"), F.lit(1))
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(injected, _EMAIL_RE, "<EMAIL>"),
        _IPV4_RE, "<IP>",
    )
    return d.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        F.substring(scrubbed, 1, 60).alias("scrubbed_prefix"),
    )


SQL_PII_SCRUB = rf"""
WITH inj AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com from '
           || '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ' || text
             AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '({_EMAIL_RE})', 1)) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '({_IPV4_RE})', 1)) AS BIGINT)
           AS n_ips,
       substring(regexp_replace(
           regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_IPV4_RE}', '<IP>', 'g'), 1, 60) AS scrubbed_prefix
FROM inj
"""
