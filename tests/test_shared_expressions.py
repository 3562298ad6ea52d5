"""Cross-engine edge cases for the shared rule expressions of
queries_base: every Spark builder and its DuckDB SQL twin run over one
small hand-built documents table whose inputs the synthetic oracle corpus
never produces (empty, whitespace-only, punctuation-only and CJK-only
text, a one-word doc, a Gopher-passing English doc, de/fr/es lines,
vertical tabs), the MinHash signature stage against the generated Spark
chain it replaced and its DuckDB twin, and the registry queries with
their own whitespace regexes against their oracles on vertical-tab and
form-feed documents."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from document_ai_spark.queries_base import (
    _SQL_MINHASH_CORE,
    _norm_words,
    _shingles,
    _SQL_GOPHER_OK,
    _SQL_GOPHER_SIGNALS,
    _SQL_LANG_SCORES,
    _SQL_N_NONSPACE,
    _SQL_N_PUNCT,
    _SQL_N_STOPWORDS,
    _SQL_PRED_LANG,
    _SQL_QUALITY_OK,
    _SQL_WORDS,
    gopher_signals,
    lang_scores,
    minhash_signatures,
    n_nonspace,
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
    # U+000B and U+000C are Java `\s` (RE2's own `\s` has no U+000B)
    (11, ("the\x0bquick brown fox\x0cjumps over the lazy dog, "
          "and the cat.\x0b") * 3),
]

COLS = [
    "doc_id", "n_tokens", "n_punct", "n_stopwords", "n_stop", "n_nonspace",
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
            n_nonspace(t).alias("n_nonspace"),
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
         {_SQL_N_NONSPACE} AS n_nonspace,
         {_SQL_LANG_SCORES},
         {_SQL_GOPHER_SIGNALS}
  FROM w)
SELECT doc_id, n_tokens, n_punct, n_stopwords, n_stop, n_nonspace,
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


def _spark_chain_signatures(df, id_col: str, n_hashes: int = 8):
    """Reference: the generated Spark chain minhash_signatures replaced
    (explode the per-doc distinct shingles, project the md5 hex slices,
    min() per slot in a groupBy)."""
    sh = df.withColumn("words", _norm_words()).select(
        id_col,
        F.explode(F.array_distinct(_shingles(F.col("words")))).alias(
            "shingle"
        ),
    )
    slices = []
    for k in range((n_hashes + 3) // 4):
        h = F.md5(F.encode(F.concat_ws(":", F.lit(str(k)), "shingle"),
                           "UTF-8"))
        slices += [
            F.substring(h, r * 8 + 1, 8).alias(f"_s{4 * k + r}")
            for r in range(4)
            if 4 * k + r < n_hashes
        ]
    return sh.select(id_col, *slices).groupBy(id_col).agg(
        *[F.min(f"_s{j}").alias(f"mh_{j}") for j in range(n_hashes)]
    )


MINHASH_DOCS = [
    "\t\nalpha beta gamma delta\n\t",      # edge tabs/newlines: empty words
    "  alpha beta gamma delta  ",            # trim() strips the spaces
    "alpha\u00a0beta gamma\u3000delta eps",  # not Java \s: inside words
    "中文 文本 测试 数据 中文 文本",             # CJK, one repeated shingle
    "😀 𝔘𝔫𝔦 🚀 rocket 𠀀 launch",              # astral characters
    "café naïve résumé déjà vu",             # accented Latin
    "one two three",                         # exactly one shingle
    "one two",                               # < 3 words: no row
    "",                                      # empty: no row
    None,                                    # NULL text: no row
    "a b c a b c a b c a b c",               # repeated shingles
    "x\r\n\r\ny \t z",                     # runs of mixed whitespace
    "p\x0bq r\x0cs t",                       # vertical tab and form feed
    "\x0b\x0cleft right edge",               # ... as edge words
]


def _signature_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_minhash_signatures_match_spark_chain_and_duckdb(spark):
    docs = MINHASH_DOCS
    for ids, ddl in (
        (list(range(len(docs))), "doc_id bigint, text string"),
        ([f"u{i:02d}" for i in range(len(docs))],
         "doc_id string, text string"),
    ):
        df = spark.createDataFrame(list(zip(ids, docs)), ddl)
        got = minhash_signatures(df)
        want = _spark_chain_signatures(df, "doc_id")
        assert got.schema == want.schema
        rows = _signature_rows(got)
        assert rows == _signature_rows(want)
        # non-vacuous: every doc with >= 3 words signs, the rest do not
        assert sorted(r[0] for r in rows) == [
            i for i, t in zip(ids, docs) if t and len(t.split()) >= 3
        ]
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(
            {"doc_id": ids, "text": docs}
        ))
        sql = sorted(
            tuple(r) for r in con.execute(_SQL_MINHASH_CORE).fetchall()
        )
        assert sql == rows
    # a different hash count still reads the right digest words
    for n in (6, 16):
        assert _signature_rows(minhash_signatures(df, n_hashes=n)) == (
            _signature_rows(_spark_chain_signatures(df, "doc_id", n))
        )


# Java `\s` is [ \t\n\x0B\f\r]; RE2's `\s` leaves out U+000B
JAVA_SPACE_DOCS = [
    (1, "spark\x0bwindow runs\x0cbatch jobs", "en"),
    (2, "a\x0bb  c\x0c d e f", "en"),
    (3, "the window\x0b\x0bspark\x0bplug of the batch", "en"),
    (4, "\x0bspark batch\x0b", "en"),
]


@pytest.mark.parametrize(
    "name",
    ["next_word_after_key", "text_metrics", "winnow_fingerprint",
     "quality_gopher"],
)
def test_java_space_docs_match_oracle(spark, tmp_path, name):
    """Registry queries whose oracle SQL splits, counts or matches
    whitespace (the word split, the non-space count, the key-word regex,
    the token regex) agree with Spark on U+000B and U+000C."""
    import __spark_entry__ as entrymod
    from scripts.check_oracle import canon

    docs = pd.DataFrame(JAVA_SPACE_DOCS, columns=["doc_id", "text", "lang"])
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    sdf = entrymod.queries()[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    odf = con.execute(entrymod.oracle_sql()[name]).df()
    assert len(sdf) > 0
    assert canon(sdf)[1] == canon(odf)[1]
    if name == "next_word_after_key":
        got = {(r.doc_id, r.key): r.next_word for r in sdf.itertuples()}
        assert got[(1, "spark")] == "window"
        assert got[(3, "window")] == "spark"
        assert got[(4, "spark")] == "batch"


# Spark `lower` (JVM String.toLowerCase, with the session's
# spark.sql.icu.caseMappings.enabled=false) against DuckDB `lower`. The
# two may differ only here:
#   - U+0130 `İ`: Java keeps the dot as a combining mark (`i̇`, U+0069
#     U+0307, the Unicode full mapping); DuckDB gives plain `i`;
#   - U+A7C7, U+A7C9, U+A7F5 (Latin capital D/S with short stroke
#     overlay, reversed half H): Unicode 13 letters that the JVM's
#     tables map and DuckDB 1.0's leave unchanged;
#   - word-final `Σ`: Java applies the Final_Sigma context rule (`ς`
#     after a cased letter, not before one); DuckDB always gives `σ`.
# ICU (Spark's default mapping) also maps 67 code points added after
# the JVM's Unicode version (U+2C2F, U+A7C0, U+10570–U+105BC, ...),
# which DuckDB leaves unchanged.
LOWER_CONTEXT_DOCS = [
    "AΣ", "AΣ B",          # word-final sigma
    "ΣA", "A Σ", "AΣA",    # not word-final: `σ` in both
    "xİy",                 # dotted capital I inside a word
    "Straße ẞ", "ǅ ᾈ ŉ",  # sharp s, titlecase, iota subscript
]
LOWER_KNOWN_DIFFS = {"\u0130", "\ua7c7", "\ua7c9", "\ua7f5",
                     "AΣ", "AΣ B", "xİy"}


def test_lower_matches_duckdb_outside_known_diffs(spark):
    from document_ai_spark.session import local_frame

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    texts = [
        chr(c) for c in range(0x80, 0x20000) if not 0xD800 <= c < 0xE000
    ] + LOWER_CONTEXT_DOCS
    df = local_frame(spark, list(enumerate(texts)), "i int, t string")
    got = [
        r.l for r in df.select("i", F.lower("t").alias("l"))
        .orderBy("i").collect()
    ]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    want = [r[0] for r in con.execute(
        "SELECT lower(t) FROM t ORDER BY i").fetchall()]
    diffs = {t for t, g, w in zip(texts, got, want) if g != w}
    assert diffs <= LOWER_KNOWN_DIFFS, sorted(
        (f"U+{ord(t):04X}" if len(t) == 1 else t)
        for t in diffs - LOWER_KNOWN_DIFFS
    )
    # non-vacuous: the sweep reached the non-ASCII mappings both engines
    # share, and the named divergences still read as described
    low = dict(zip(texts, got))
    assert low["É"] == "é" and low["\U00010400"] == "\U00010428"
    assert low["AΣ B"] == "aς b" and low["ΣA"] == "σa"
