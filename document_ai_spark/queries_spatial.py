"""True 2-D spatial nearest-right join (SURVEY J2) and its fuzzy-key
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

Word boxes are synthesized deterministically from the documents table with
pure integer arithmetic (word position + word length), so Spark and the
DuckDB oracle construct the identical geometry — no RNG, no external data.

Scale shape: boxes are per-document; the key-box pick and the candidate
argmin are min_by aggregates on (doc_id, key) that combine map-side, so
each of the plan's two shuffles carries at most one row per (doc, key)
per task, and the box side itself is never shuffled or broadcast. The
key-box and candidate tables (<= docs x keys rows) are broadcast into
the joins unconditionally, so they grow with the corpus. The in-kernel
variant (operators/spatial.py) fuses the whole search into one
applyInPandas pass per page — zero self-join — for pipelines that already
group by document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t
from .queries_base import _SQL_WORDS, _norm_words
from .session import local_frame

# layout constants (shared by both engines; see _word_boxes)
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


def _word_boxes(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, i, word, x_min, x_max, y_min, y_max): one box
    per word in reading order, line-wrapped layout with content-derived
    jitter. Integer arithmetic only (engine-portable)."""
    w = d.select(
        "doc_id", F.posexplode(_norm_words()).alias("i", "word")
    ).filter(F.col("word") != "")
    i = F.col("i")
    wl = F.length("word")
    line = F.floor(i / WORDS_PER_LINE)
    col = i % WORDS_PER_LINE
    x_min = col * COL_PITCH + (wl * 13) % 37
    y_min = line * LINE_PITCH + (wl * 7) % 15
    return w.select(
        "doc_id", i.alias("i"), "word",
        x_min.alias("x_min"), (x_min + CHAR_W * wl).alias("x_max"),
        y_min.alias("y_min"), (y_min + BOX_HEIGHT).alias("y_max"),
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


def _next_right_relational(
    d: DataFrame, keys: list[str], fuzzy_margin: int | None
) -> DataFrame:
    """Shared core: key located per (doc, key) as the first box in reading
    order matching exactly (fuzzy_margin None) or by levenshtein <=
    fuzzy_margin; then the nearest-right y-overlapping candidate.

    Plan shape (PLANS.md): the key-box table kb (<= n_docs x n_keys
    rows) is materialized ONCE with localCheckpoint — it feeds three
    joins, and as lazy lineage each consumer re-ran the whole
    scan->explode->aggregate subtree — and then BROADCAST into the
    candidate join, so the full box side streams map-side instead of
    being built into a corpus-sized broadcast relation. The sentinel
    joins broadcast kb/cand too: the only exchanges are those of the
    two (doc_id, key) aggregates."""
    boxes = _word_boxes(d)
    spark = d.sparkSession
    keys_df = F.broadcast(
        local_frame(spark, [(k,) for k in keys], "key string")
    )
    if fuzzy_margin is None:
        # exact match needs no join at all: key = lower(word) when in
        # the key set — one filter instead of a broadcast theta-join
        kb0 = boxes.filter(F.lower(F.col("word")).isin(*keys)).withColumn(
            "key", F.lower(F.col("word"))
        )
    else:
        match = (
            F.levenshtein(F.lower(F.col("word")), F.col("key"))
            <= fuzzy_margin
        )
        kb0 = boxes.join(keys_df, match)
    # first-in-reading-order per (doc, key) as a min_by aggregate (r6):
    # `i` is unique per doc, so min_by(struct(boxes), i) is exactly the
    # old row_number()=1 window, but it partial-aggregates map-side with
    # no sort, so its shuffle carries <= one row per (doc, key) per task
    kb = (
        kb0
        .groupBy("doc_id", "key")
        .agg(
            F.min_by(
                F.struct(
                    F.col("i").alias("ki"),
                    F.col("x_min").alias("kx_min"),
                    F.col("x_max").alias("kx_max"),
                    F.col("y_min").alias("ky_min"),
                    F.col("y_max").alias("ky_max"),
                ),
                F.col("i"),
            ).alias("_kb")
        )
        .select("doc_id", "key", "_kb.ki", "_kb.kx_min", "_kb.kx_max",
                "_kb.ky_min", "_kb.ky_max")
        # <= one row per (doc, key): tiny, consumed by three joins below
        .localCheckpoint(eager=True)
    )
    b = boxes.select(
        F.col("doc_id").alias("b_doc"), F.col("i").alias("bi"),
        F.col("word").alias("b_word"),
        F.col("x_min").alias("bx_min"), F.col("x_max").alias("bx_max"),
        F.col("y_min").alias("by_min"), F.col("y_max").alias("by_max"),
    )
    overlap = (
        F.least("ky_max", "by_max") - F.greatest("ky_min", "by_min")
        - MIN_OVERLAP
    )
    kcx = (F.col("kx_min") + F.col("kx_max")) / 2
    kcy = (F.col("ky_min") + F.col("ky_max")) / 2
    bcx = (F.col("bx_min") + F.col("bx_max")) / 2
    bcy = (F.col("by_min") + F.col("by_max")) / 2
    dist = F.round(
        F.sqrt((kcx - bcx) * (kcx - bcx) + (kcy - bcy) * (kcy - bcy)), 6
    )
    # argmin by (dist, bi) per (doc, key): same min_by-over-struct form
    # as kb — (dist, bi) is unique per candidate (bi is), so this is
    # exactly the old row_number()=1 window without its two sorts
    cand = (
        b.join(F.broadcast(kb), F.col("b_doc") == F.col("doc_id"))
        .filter((overlap > 0) & (F.col("bx_min") > F.col("kx_min")))
        .withColumn("dist", dist)
        .filter(F.col("dist") < MAX_DIST)
        .groupBy("doc_id", "key")
        .agg(
            F.min_by(
                F.struct(F.col("b_word"), F.col("dist")),
                F.struct(F.col("dist"), F.col("bi")),
            ).alias("_c")
        )
        .select("doc_id", "key", "_c.b_word", "_c.dist")
    )
    all_pairs = d.select("doc_id").crossJoin(keys_df)
    return (
        all_pairs
        .join(
            F.broadcast(kb.select("doc_id", "key", "ki")),
            ["doc_id", "key"], "left",
        )
        .join(F.broadcast(cand), ["doc_id", "key"], "left")
        .select(
            "doc_id", "key",
            F.when(F.col("ki").isNull(), F.lit("<NOT_FOUND>"))
            .when(F.col("b_word").isNull(), F.lit("<EMPTY>"))
            .otherwise(F.col("b_word")).alias("next_word"),
            F.col("dist").alias("dist"),
        )
    )


def q_next_right_word_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 proper: 2-D boxes, y-overlap gate, x-right gate, Euclidean
    argmin under max_distance, reference sentinels."""
    return _next_right_relational(
        _t(spark, sf_dir, "documents"), KEYS_2D, fuzzy_margin=None
    )


def q_fuzzy_key_next_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3∘J2: key box located by levenshtein <= margin (first match in
    reading order), then the same nearest-right search."""
    return _next_right_relational(
        _t(spark, sf_dir, "documents"), KEYS_FUZZY, fuzzy_margin=FUZZY_MARGIN
    )


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
