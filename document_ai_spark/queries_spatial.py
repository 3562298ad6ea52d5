"""True 2-D spatial nearest-right search (SURVEY J2) and its fuzzy-key
composition (J3∘J2) — the reference's signature geometric KV query.

Reference parity (/root/reference/ai_documents/analysis/cv/
document_parsing.py):
  - find_next_right_word (:132-198): key box = FIRST box in reading order
    whose word matches the key; candidates must y-overlap the key box by
    more than ``minimum_overlap`` (_has_overlap, :79-84) and start strictly
    right of the key's x_min; winner = Euclidean argmin between box centers
    (compute_box_distance, :102-129) under ``max_distance``; sentinels
    "<NOT_FOUND>" (key absent) and "<EMPTY>" (no qualifying candidate).
  - get_box_corresponding_to_word (:87-99): fuzzy key location by
    levenshtein <= distance_margin, first match wins — composed here as
    q_fuzzy_key_next_right.

Word boxes are synthesized deterministically from each document's own
words with pure integer arithmetic (word position + word length, the
_SQL_BOXES layout), so Spark and the DuckDB oracle construct the
identical geometry — no RNG, no external data.

Scale shape: a document's boxes and keys never leave its row, so each
query is one mapInArrow stage over the pruned (doc_id, text) columns
(_next_right_batches runs next_right_in_page per document): Scan ->
MapInArrow, no exchange, no broadcast, one row per (document, key).
Parity rules the stage keeps with both engines:
  - `i` counts the empty edge words of the frozen split (_py_words), so
    "\tfoo" puts foo at i = 1;
  - distances are Spark's HALF_UP round(x, 6) (_round6), not np.round's
    half-even; ties break on (dist, i);
  - NULL or wordless text gives <NOT_FOUND> for every key.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from decimal import ROUND_HALF_UP, Decimal
from functools import lru_cache, partial

import numpy as np
import pyarrow as pa
from numpy.typing import ArrayLike
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .queries import _t
from .queries_base import _SQL_WORDS, _py_words

# layout constants (shared by both engines; see _doc_boxes / _SQL_BOXES)
WORDS_PER_LINE = 8
COL_PITCH = 110
LINE_PITCH = 40
BOX_HEIGHT = 24
CHAR_W = 9

# reference defaults (find_next_right_word signature)
MIN_OVERLAP = 10
MAX_DIST = 200.0
FUZZY_MARGIN = 1

KEYS_2D = ["spark", "window", "batch"]
# misspelled keys, each within levenshtein 1 of vocabulary; "sow" matches
# BOTH "row" and "slow" at distance 1, so first-match-in-reading-order is
# genuinely exercised (get_box_corresponding_to_word breaks at first hit)
KEYS_FUZZY = ["sparc", "windoe", "batsh", "sow"]

_MICRO = Decimal("1e-6")


@lru_cache(maxsize=1 << 16)
def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance — matches Spark's levenshtein() and DuckDB's
    levenshtein() (unit costs, no transposition). Cached: a corpus
    repeats its vocabulary, and the fuzzy key search asks the same
    (word, key) pairs document after document."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its shortest decimal
    form (java.math.BigDecimal.valueOf)."""
    return float(Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP))


def _key_index(
    low: list[str], key: str, fuzzy_margin: int | None
) -> int | None:
    """First word in reading order matching the key exactly, or by
    levenshtein <= fuzzy_margin; None when no word matches."""
    if fuzzy_margin is None:
        return low.index(key) if key in low else None
    for k, w in enumerate(low):
        # the length difference bounds the edit distance from below, so
        # it skips the DP for almost every word
        if (abs(len(w) - len(key)) <= fuzzy_margin
                and _levenshtein(w, key) <= fuzzy_margin):
            return k
    return None


def next_right_in_page(
    words: Sequence[str],
    boxes: ArrayLike,
    keys: Iterable[str],
    fuzzy_margin: int | None = None,
) -> list[tuple[str, float | None]]:
    """One page in reading order — its words and their (x_min, x_max,
    y_min, y_max) boxes, an (n, 4) array — -> one (next_word, dist) per
    key, with the reference sentinels and dist None for them."""
    low = [w.lower() for w in words]
    x_min, x_max, y_min, y_max = (
        np.asarray(boxes, dtype=np.float64).reshape(-1, 4).T
    )
    cx = (x_min + x_max) / 2
    cy = (y_min + y_max) / 2
    out = []
    for key in keys:
        k = _key_index(low, key, fuzzy_margin)
        if k is None:
            out.append(("<NOT_FOUND>", None))
            continue
        overlap = (
            np.minimum(y_max[k], y_max) - np.maximum(y_min[k], y_min)
            - MIN_OVERLAP
        )
        cand = np.flatnonzero((overlap > 0) & (x_min > x_min[k]))
        raw = np.sqrt((cx[k] - cx[cand]) ** 2 + (cy[k] - cy[cand]) ** 2)
        dist = [_round6(d) for d in raw.tolist()]
        # argmin by (dist, i): candidates are in reading order
        best = min(
            ((d, j) for d, j in zip(dist, cand.tolist()) if d < MAX_DIST),
            default=None,
        )
        out.append(
            ("<EMPTY>", None) if best is None else (words[best[1]], best[0])
        )
    return out


def _doc_boxes(text: str | None) -> tuple[list[str], np.ndarray]:
    """One document's non-empty words and their _SQL_BOXES boxes, in
    reading order: line-wrapped layout with content-derived jitter."""
    split = [] if text is None else _py_words(text)
    i = np.array([k for k, w in enumerate(split) if w], dtype=np.int64)
    words = [split[k] for k in i.tolist()]
    wl = np.array([len(w) for w in words], dtype=np.int64)
    x_min = i % WORDS_PER_LINE * COL_PITCH + wl * 13 % 37
    y_min = i // WORDS_PER_LINE * LINE_PITCH + wl * 7 % 15
    return words, np.stack(
        [x_min, x_min + CHAR_W * wl, y_min, y_min + BOX_HEIGHT], axis=1
    )


def _next_right_batches(batches, keys: list[str], fuzzy_margin: int | None):
    """mapInArrow body of the J2 queries: (doc_id, text) record batches
    -> (doc_id, key, next_word, dist) batches, one row per doc and key."""
    for batch in batches:
        found = [
            hit
            for text in batch.column(1).to_pylist()
            for hit in next_right_in_page(
                *_doc_boxes(text), keys, fuzzy_margin
            )
        ]
        rows = np.repeat(np.arange(batch.num_rows), len(keys))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(0).take(pa.array(rows)),
                pa.array(keys * batch.num_rows, pa.string()),
                pa.array([w for w, _ in found], pa.string()),
                pa.array([d for _, d in found], pa.float64()),
            ],
            names=["doc_id", "key", "next_word", "dist"],
        )


def _next_right(
    d: DataFrame, keys: list[str], fuzzy_margin: int | None
) -> DataFrame:
    schema = T.StructType([
        d.schema["doc_id"],
        T.StructField("key", T.StringType()),
        T.StructField("next_word", T.StringType()),
        T.StructField("dist", T.DoubleType()),
    ])
    return d.select("doc_id", "text").mapInArrow(
        partial(_next_right_batches, keys=keys, fuzzy_margin=fuzzy_margin),
        schema,
    )


def q_next_right_word_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 proper: 2-D boxes, y-overlap gate, x-right gate, Euclidean
    argmin under max_distance, reference sentinels."""
    return _next_right(
        _t(spark, sf_dir, "documents"), KEYS_2D, fuzzy_margin=None
    )


def q_fuzzy_key_next_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3∘J2: key box located by levenshtein <= margin (first match in
    reading order), then the same nearest-right search."""
    return _next_right(
        _t(spark, sf_dir, "documents"), KEYS_FUZZY, fuzzy_margin=FUZZY_MARGIN
    )


_SQL_BOXES = f"""
  SELECT doc_id, i - 1 AS i, words[i] AS word,
         ((i - 1) % {WORDS_PER_LINE}) * {COL_PITCH}
           + (length(words[i]) * 13) % 37 AS x_min,
         ((i - 1) % {WORDS_PER_LINE}) * {COL_PITCH}
           + (length(words[i]) * 13) % 37
           + {CHAR_W} * length(words[i]) AS x_max,
         ((i - 1) // {WORDS_PER_LINE}) * {LINE_PITCH}
           + (length(words[i]) * 7) % 15 AS y_min,
         ((i - 1) // {WORDS_PER_LINE}) * {LINE_PITCH}
           + (length(words[i]) * 7) % 15 + {BOX_HEIGHT} AS y_max
  FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
       unnest(range(1, len(words) + 1)) AS u(i)
  WHERE words[i] <> ''
"""


def _sql_next_right(keys: list[str], fuzzy_margin: int | None) -> str:
    keys_sql = ", ".join(f"('{k}')" for k in keys)
    if fuzzy_margin is None:
        match = "lower(b.word) = k.key"
    else:
        match = f"levenshtein(lower(b.word), k.key) <= {fuzzy_margin}"
    return f"""
WITH boxes AS ({_SQL_BOXES}),
keys AS (SELECT * FROM (VALUES {keys_sql}) AS t(key)),
kb AS (
  SELECT doc_id, key, i AS ki, x_min AS kx_min, x_max AS kx_max,
         y_min AS ky_min, y_max AS ky_max
  FROM (
    SELECT b.*, k.key,
           row_number() OVER (PARTITION BY b.doc_id, k.key ORDER BY b.i)
               AS rn
    FROM boxes b JOIN keys k ON {match})
  WHERE rn = 1),
cand AS (
  SELECT doc_id, key, b_word, dist
  FROM (
    SELECT kb.doc_id, kb.key, b.word AS b_word,
           round(sqrt(
             ((kb.kx_min + kb.kx_max) / 2.0 - (b.x_min + b.x_max) / 2.0)
               * ((kb.kx_min + kb.kx_max) / 2.0 - (b.x_min + b.x_max) / 2.0)
             + ((kb.ky_min + kb.ky_max) / 2.0 - (b.y_min + b.y_max) / 2.0)
               * ((kb.ky_min + kb.ky_max) / 2.0 - (b.y_min + b.y_max) / 2.0)
           ), 6) AS dist,
           b.i AS bi
    FROM kb JOIN boxes b ON kb.doc_id = b.doc_id
    WHERE least(kb.ky_max, b.y_max) - greatest(kb.ky_min, b.y_min)
            - {MIN_OVERLAP} > 0
      AND b.x_min > kb.kx_min)
  QUALIFY row_number() OVER (PARTITION BY doc_id, key
                             ORDER BY dist, bi) = 1
    AND dist < {MAX_DIST}
),
pairs AS (SELECT d.doc_id, k.key FROM documents d, keys k)
SELECT p.doc_id, p.key,
       CASE WHEN kb.ki IS NULL THEN '<NOT_FOUND>'
            WHEN c.b_word IS NULL THEN '<EMPTY>'
            ELSE c.b_word END AS next_word,
       c.dist AS dist
FROM pairs p
LEFT JOIN kb ON p.doc_id = kb.doc_id AND p.key = kb.key
LEFT JOIN cand c ON p.doc_id = c.doc_id AND p.key = c.key
"""


SQL_NEXT_RIGHT_WORD_2D = _sql_next_right(KEYS_2D, None)
SQL_FUZZY_KEY_NEXT_RIGHT = _sql_next_right(KEYS_FUZZY, FUZZY_MARGIN)
