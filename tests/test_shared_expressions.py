"""Cross-engine edge cases for the shared rule expressions of
queries_base: every Spark builder and its DuckDB SQL twin run over one
small hand-built documents table whose inputs the synthetic oracle corpus
never produces (empty, whitespace-only, punctuation-only and CJK-only
text, a one-word doc, a Gopher-passing English doc, de/fr/es lines)."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from document_ai_spark.queries_base import (
    _norm_words,
    _SQL_GOPHER_OK,
    _SQL_GOPHER_SIGNALS,
    _SQL_LANG_SCORES,
    _SQL_N_PUNCT,
    _SQL_N_STOPWORDS,
    _SQL_PRED_LANG,
    _SQL_QUALITY_OK,
    _SQL_WORDS,
    gopher_signals,
    lang_scores,
    n_punct,
    n_stopwords,
    pred_lang,
    quality_ok,
)

_GOPHER_EN = " ".join(
    ["the quick brown fox jumps over the lazy dog and runs with that cat"]
    * 5
)  # 65 alphabetic words, two+ Gopher stopwords, no symbols

DOCS = [
    (0, ""),
    (1, "   \t  \n "),
    (2, "?!... ,,; :: !!"),
    (3, "这是一个中文句子有很多汉字"),
    (4, "word"),
    (5, _GOPHER_EN),
    (6, "der Hund und die Katze sind nicht in das Haus gegangen"),
    (7, "le chat et les chiens sont dans une des maisons"),
    (8, "los gatos y el perro de una casa que ladra por la noche"),
    (9, "#@[ ]{ }<> |~^ " + _GOPHER_EN),
    (10, "The cat, the dog; a bird: is it in? " * 3),
]

COLS = [
    "doc_id", "n_tokens", "n_punct", "n_stopwords", "n_stop",
    "s_en", "s_de", "s_fr", "s_es", "s_zh",
    "quality_ok", "gopher_ok", "pred_lang",
]


def _spark_rows(spark) -> pd.DataFrame:
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    t = F.col("text")
    words = _norm_words(t)
    n = F.size(words)
    g = gopher_signals(t, words, n)
    s = lang_scores(t)
    return (
        df.select(
            "doc_id",
            n.alias("n_tokens"),
            n_punct(t).alias("n_punct"),
            n_stopwords(t).alias("n_stopwords"),
            g["n_stop"].alias("n_stop"),
            *[c.alias(f"s_{k}") for k, c in s.items()],
            quality_ok(n, n_punct(t)).alias("quality_ok"),
            g["gopher_ok"].alias("gopher_ok"),
            pred_lang(s).alias("pred_lang"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _sql_rows() -> pd.DataFrame:
    documents = pd.DataFrame(DOCS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", documents)
    return con.execute(
        f"""
WITH w AS (SELECT doc_id, text, {_SQL_WORDS} AS words FROM documents),
b AS (
  SELECT doc_id, len(words) AS n_tokens, len(words) AS n_words,
         {_SQL_N_PUNCT} AS n_punct,
         {_SQL_N_STOPWORDS} AS n_stopwords,
         {_SQL_LANG_SCORES},
         {_SQL_GOPHER_SIGNALS}
  FROM w)
SELECT doc_id, n_tokens, n_punct, n_stopwords, n_stop,
       s_en, s_de, s_fr, s_es, s_zh,
       {_SQL_QUALITY_OK} AS quality_ok,
       {_SQL_GOPHER_OK} AS gopher_ok,
       {_SQL_PRED_LANG} AS pred_lang
FROM b ORDER BY doc_id
"""
    ).df()


def test_rule_builders_match_sql_twins_on_edge_cases(spark):
    got = _spark_rows(spark)[COLS]
    want = _sql_rows()[COLS]
    for c in COLS:
        assert [
            v if isinstance(v, str) else int(v) for v in got[c]
        ] == [
            v if isinstance(v, str) else int(v) for v in want[c]
        ], c
    # non-vacuous: each rule both passes and fails somewhere, and every
    # language branch of the CASE is taken
    by_id = got.set_index("doc_id")
    assert by_id.gopher_ok.tolist().count(True) == 1  # only doc 5
    assert bool(by_id.gopher_ok[5]) and not bool(by_id.gopher_ok[9])
    assert bool(by_id.quality_ok[5]) and not bool(by_id.quality_ok[10])
    assert not by_id.quality_ok[[0, 1, 2, 3, 4]].any()
    assert by_id.pred_lang[[3, 5, 6, 7, 8]].tolist() == [
        "zh", "en", "de", "fr", "es"
    ]
