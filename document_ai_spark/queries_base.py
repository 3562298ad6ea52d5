"""Shared expressions of the query modules — each defined ONCE per
engine, as a Spark Column builder next to its DuckDB SQL twin, so a
Spark expression can never drift from the oracle string that checks it:

  - whitespace normalization and the frozen word split:
    split(regexp_replace(trim(text), '\\s+', ' '), ' '), with a Python
    twin (_py_words) for the per-document Arrow stages;
  - word 3-gram shingles and the md5-slice MinHash signature (on the
    Spark side one Arrow-batched Python stage, whose word split mirrors
    the Spark split exactly);
  - the language-ID scores and the pred_lang CASE;
  - the quality inputs (punctuation, stopwords, non-space chars) and the
    frozen quality_ok rule;
  - the Gopher rule pack;
  - the rounded array cosine;
  - the exact-dedup text hash and keeper (min id per hash).

Call sites compose these builders rather than copy them. Builders take
the text / `words` Column as an argument, so each call site keeps its own
plan (inline `words` in a one-scan flag projection, a materialized
`words` column elsewhere). Inline the split into per-element lambdas and
both engines go O(words^2) per document — always materialize `words`
once. The SQL fragments read a column named `text` (and `words` where
noted).

Each rule keeps its OWN stopword alternation (QUALITY_STOPWORDS,
GOPHER_STOPWORDS, LANG_PATTERNS here; the classifier's in
operators/quality_clf) — their oracles freeze them, so they are never
merged.
"""

from __future__ import annotations

import re
from functools import partial
from hashlib import md5

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

SHINGLE_W = 3


def _norm_text(col: str | F.Column = "text") -> F.Column:
    """Frozen whitespace normalization over a column name OR an
    expression (operators that pre-process the text, e.g. a
    NULL-coalesce, pass the Column)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(c), r"\s+", " ")


def _norm_words(col: str | F.Column = "text") -> F.Column:
    """Frozen word split of the normalized text."""
    return F.split(_norm_text(col), " ")


def _shingles(words: F.Column) -> F.Column:
    """Word 3-gram shingles; empty array for docs with < 3 words."""
    n = F.size(words)
    return F.when(
        n >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_W),
            lambda i: F.concat_ws(
                " ", words[i], words[i + 1], words[i + 2]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Java's `\s` (no UNICODE_CHARACTER_CLASS: the six ASCII whitespace
# chars Spark's regexes match) as a class for the DuckDB twins and the
# Python stages. RE2's own `\s` leaves out U+000B (vertical tab).
_SQL_SPACE_CHARS = r" \t\n\x0B\f\r"
_SQL_SPACE = f"[{_SQL_SPACE_CHARS}]"
_SQL_NORM_TEXT = f"regexp_replace(trim(text), '{_SQL_SPACE}+', ' ', 'g')"
_SQL_WORDS = f"str_split({_SQL_NORM_TEXT}, ' ')"
_SQL_WORDS_CTE = f"SELECT doc_id, {_SQL_WORDS} AS words FROM documents"
_SQL_SHINGLES_FROM_WORDS = """
    CASE WHEN len(words) >= 3 THEN
      list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
    ELSE [] END
"""


# --------------------------------------------------------------------------
# Language ID: per-language stopword hit counts + a CJK character count;
# the prediction is the arg-max (CJK must win strictly, ties fall through
# en > de > fr > es).
# --------------------------------------------------------------------------

LANG_PATTERNS = {
    "en": r"\b(the|and|of|to|in|is)\b",
    "de": r"\b(der|die|und|das|ist|nicht)\b",
    "fr": r"\b(le|la|les|et|des|une)\b",
    "es": r"\b(el|los|que|de|una|por)\b",
}
_ZH_CHAR = r"([\x{4e00}-\x{9fff}])"


def lang_scores(text: F.Column) -> dict[str, F.Column]:
    """{en, de, fr, es, zh} -> INT hit counts (callers cast / alias)."""
    low = F.lower(text)
    s = {
        k: F.size(F.regexp_extract_all(low, F.lit(pat), F.lit(1)))
        for k, pat in LANG_PATTERNS.items()
    }
    s["zh"] = F.size(F.regexp_extract_all(text, F.lit(_ZH_CHAR), F.lit(1)))
    return s


def pred_lang(s: dict[str, F.Column]) -> F.Column:
    """The language CASE over lang_scores (or columns holding them)."""
    en, de, fr, es, zh = (s[k] for k in ("en", "de", "fr", "es", "zh"))
    return (
        F.when((zh > en) & (zh > de) & (zh > fr) & (zh > es), "zh")
        .when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )


_SQL_LANG_SCORES = ",\n".join(
    [
        f"len(regexp_extract_all(lower(text), '{pat}', 1)) AS s_{k}"
        for k, pat in LANG_PATTERNS.items()
    ]
    + [f"len(regexp_extract_all(text, '{_ZH_CHAR}', 1)) AS s_zh"]
)
_SQL_PRED_LANG = """CASE
    WHEN s_zh > s_en AND s_zh > s_de AND s_zh > s_fr AND s_zh > s_es THEN 'zh'
    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
    WHEN s_fr >= s_es THEN 'fr'
    ELSE 'es' END"""


# --------------------------------------------------------------------------
# Quality score inputs and the frozen quality rule.
# --------------------------------------------------------------------------

QUALITY_STOPWORDS = r"\b(the|a|of|and|to|in|is)\b"


def n_punct(text: F.Column) -> F.Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"([.,;:!?])"), F.lit(1)))


def n_stopwords(text: F.Column) -> F.Column:
    return F.size(
        F.regexp_extract_all(
            F.lower(text), F.lit(QUALITY_STOPWORDS), F.lit(1)
        )
    )


def n_nonspace(text: F.Column) -> F.Column:
    return F.length(F.regexp_replace(text, r"\s", ""))


def quality_ok(tokens: F.Column, punct: F.Column) -> F.Column:
    """The frozen quality rule over token and punctuation counts."""
    return (tokens >= 20) & (tokens <= 100000) & (punct * 10 <= tokens * 3)


_SQL_N_PUNCT = "len(regexp_extract_all(text, '([.,;:!?])', 1))"
_SQL_N_STOPWORDS = (
    f"len(regexp_extract_all(lower(text), '{QUALITY_STOPWORDS}', 1))"
)
_SQL_N_NONSPACE = f"length(regexp_replace(text, '{_SQL_SPACE}', '', 'g'))"
_SQL_QUALITY_OK = (
    "n_tokens >= 20 AND n_tokens <= 100000 AND n_punct * 10 <= n_tokens * 3"
)


# --------------------------------------------------------------------------
# Gopher-style rule pack (Rae et al. 2021 §A1.1-style heuristics, the
# rules that make sense for single-paragraph docs): mean word length
# bounds, symbol-to-word ratio, alpha-word fraction, minimum stopword
# evidence.
# --------------------------------------------------------------------------

GOPHER_STOPWORDS = r"\b(the|be|to|of|and|that|have|with)\b"


def gopher_signals(
    text: F.Column, words: F.Column, n_words: F.Column
) -> dict[str, F.Column]:
    """n_alpha / mean_wl / n_sym / n_stop and the gopher_ok rule over
    them; `n_words` is the caller's size(words) column."""
    g = {
        "n_alpha": F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]+$"))),
        "mean_wl": n_nonspace(text).cast("double") / n_words,
        "n_sym": F.size(
            F.regexp_extract_all(text, F.lit(r"([#@\[\]{}<>|~^])"), F.lit(1))
        ),
        "n_stop": F.size(
            F.regexp_extract_all(
                F.lower(text), F.lit(GOPHER_STOPWORDS), F.lit(1)
            )
        ),
    }
    g["gopher_ok"] = (
        (n_words >= 50)
        & (g["mean_wl"] >= 3.0) & (g["mean_wl"] <= 10.0)
        & (g["n_alpha"] * 10 >= n_words * 8)
        & (g["n_sym"] * 10 <= n_words)
        & (g["n_stop"] >= 2)
    )
    return g


# over (text, words); n_words = len(words)
_SQL_GOPHER_SIGNALS = rf"""
    len(list_filter(words, w -> regexp_full_match(w, '[A-Za-z]+'))) AS n_alpha,
    {_SQL_N_NONSPACE} AS n_nonspace,
    len(regexp_extract_all(text, '([#@\[\]{{}}<>|~^])', 1)) AS n_sym,
    len(regexp_extract_all(lower(text), '{GOPHER_STOPWORDS}', 1)) AS n_stop"""
_SQL_GOPHER_OK = """n_words >= 50
    AND CAST(n_nonspace AS DOUBLE) / n_words >= 3.0
    AND CAST(n_nonspace AS DOUBLE) / n_words <= 10.0
    AND n_alpha * 10 >= n_words * 8
    AND n_sym * 10 <= n_words
    AND n_stop >= 2"""


# --------------------------------------------------------------------------
# Exact dedup: the md5 of the UTF-8 text, keeper = min id per hash.
# --------------------------------------------------------------------------


def text_hash(text: F.Column) -> F.Column:
    return F.md5(F.encode(text, "UTF-8"))


def exact_keeper(id_col: str, hash_col: str) -> F.Column:
    """True for the min id among the rows sharing `hash_col`'s value."""
    return F.col(id_col) == F.min(id_col).over(Window.partitionBy(hash_col))


_SQL_TEXT_HASH = "md5(text)"
_SQL_EXACT_KEEPER = (
    f"doc_id = MIN(doc_id) OVER (PARTITION BY {_SQL_TEXT_HASH})"
)


# --------------------------------------------------------------------------
# Array cosine, rounded to 6 dp in both engines (ranking happens on the
# rounded value).
# --------------------------------------------------------------------------


def cosine(a: F.Column, b: F.Column) -> F.Column:
    av = F.transform(a, lambda x: x.cast("double"))
    bv = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(bv, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.round(dot / (na * nb), 6)


def _sql_cosine(a: str, b: str) -> str:
    """DuckDB twin of cosine() over two array expressions."""
    return f"""round(
      list_sum(list_transform(list_zip(
        list_transform({a}, x -> CAST(x AS DOUBLE)),
        list_transform({b}, x -> CAST(x AS DOUBLE))),
        pr -> pr[1] * pr[2]))
      / (sqrt(list_sum(list_transform({a},
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform({b},
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""


N_MINHASH = 8
N_BANDS = 4  # 2 hashes per band


# Python's own `\s` also matches U+00A0, U+3000 and the other Unicode
# spaces, which Spark keeps in words: the Arrow stages split on the Java
# class too.
_JAVA_SPACE = re.compile(f"{_SQL_SPACE}+")


def _py_words(text: str) -> list[str]:
    """Python twin of _norm_words for the Arrow stages: the frozen split
    as Spark runs it. trim() strips U+0020 only, and a split on one
    space keeps empty edge words ("\tfoo" -> ["", "foo"])."""
    return _JAVA_SPACE.sub(" ", text.strip(" ")).split(" ")


def _minhash_batches(batches, n_hashes: int):
    """mapInArrow body of minhash_signatures: (id, text) record batches ->
    (id, mh_0..mh_{n-1}) batches, one row per doc with >= 3 words."""
    salts = [f"{k}:".encode() for k in range((n_hashes + 3) // 4)]
    mh_names = [f"mh_{j}" for j in range(n_hashes)]
    for batch in batches:
        keep, starts, shingles = [], [], []
        for i, text in enumerate(batch.column(1).to_pylist()):
            if text is None:
                continue
            words = _py_words(text)
            doc = set(map(" ".join,
                          zip(*(words[k:] for k in range(SHINGLE_W)))))
            if doc:
                keep.append(i)
                starts.append(len(shingles))
                shingles += doc
        if not keep:
            continue
        digests = b"".join([
            md5(salt + b).digest()
            for b in map(str.encode, shingles) for salt in salts
        ])
        # each shingle's digests read as big-endian 32-bit words: word
        # 4k+r of a row is hex slice r of md5('k:'||shingle)
        u32 = np.frombuffer(digests, dtype=">u4").reshape(
            -1, 4 * len(salts)
        )
        mins = np.minimum.reduceat(u32[:, :n_hashes], starts, axis=0)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(0).take(pa.array(keep, pa.int32())),
                *[
                    pa.array([f"{v:08x}" for v in mins[:, j].tolist()],
                             pa.string())
                    for j in range(n_hashes)
                ],
            ],
            names=[batch.schema.names[0], *mh_names],
        )


def minhash_signatures(df, id_col: str = "doc_id",
                       n_hashes: int = N_MINHASH):
    """(id, text) frame -> (id, mh_0..mh_{n-1}) md5-slice MinHash
    signatures — the ONE construction behind queries_ml's
    minhash_signatures entry and minhash_band_pairs; its DuckDB twin is
    _SQL_MINHASH_CORE.

    mh_j = min over the doc's DISTINCT word 3-gram shingles of the
    (j%4)-th 8-hex-char slice of md5('j//4:'||shingle): one md5 per four
    hash slots (the four words of one md5 are independent uniform bits),
    and lexicographic MIN over a fixed-width lowercase-hex slice equals
    numeric MIN of that 32-bit word.

    One Arrow-batched Python stage over the pruned (id, text) columns
    (_minhash_batches): per doc, the frozen word split, a set of the
    shingles, `hashlib.md5` per shingle and hash group, and numpy minima
    of the digests' big-endian words, formatted back to 8-hex strings.
    The stage has no exchange, where the same signature as generated
    Spark expressions (explode, md5 slices, min() per slot; the tests
    keep it as the reference) sort-aggregates every shingle row of the
    corpus. Ids are one row per doc (every caller keys by a unique doc
    id or a recrawl-collapsed url). NULL text and docs with fewer than
    3 words emit no row."""
    schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(f"mh_{j}", T.StringType())
           for j in range(n_hashes)]
    )
    return df.select(id_col, "text").mapInArrow(
        partial(_minhash_batches, n_hashes=n_hashes), schema
    )


_SQL_MINHASH_CORE = """
  SELECT doc_id, {mins}
  FROM (SELECT DISTINCT doc_id,
               unnest({shingles}) AS shingle
        FROM ({words}))
  GROUP BY doc_id
""".format(
    mins=",\n".join(
        f"MIN(substr(md5('{j // 4}' || ':' || shingle), "
        f"{(j % 4) * 8 + 1}, 8)) AS mh_{j}"
        for j in range(N_MINHASH)
    ),
    shingles=_SQL_SHINGLES_FROM_WORDS,
    words=_SQL_WORDS_CTE,
)


def minhash_band_pairs(df, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = N_MINHASH,
                       n_bands: int = N_BANDS,
                       rows_per_band: int | None = None):
    """Generic MinHash + LSH candidate-pair builder over any
    (id, text) frame — ONE construction (minhash_signatures,
    `rows_per_band` consecutive hashes concatenated per band) shared by
    the documents-table queries (queries_ml) and the curation engine
    (operators/curate), so the DuckDB oracle twin (_SQL_MINHASH_CORE)
    can never drift from one copy while the other is updated. Returns
    (doc_a, doc_b) candidate pairs from the bucketed band pair-explode
    (r5: no self-join; never all-pairs).

    Banding is a deployment knob (r3 verdict item 4): a pair with
    shingle-Jaccard s collides with probability 1 - (1 - s^r)^b for
    b bands of r rows — the S-curve threshold sits near (1/b)^(1/r).
    The frozen default (8 hashes, 4 bands x 2 rows, threshold ~0.5)
    backs the oracle-checked registry entries; a 100 TB corpus wanting
    fewer false candidates runs steeper curves like (16, 4, 4)
    (threshold ~0.71) without touching the construction."""
    if rows_per_band is None:
        rows_per_band = n_hashes // n_bands
    if n_bands * rows_per_band != n_hashes:
        raise ValueError(
            "need n_bands * rows_per_band == n_hashes, got "
            f"{n_bands} * {rows_per_band} != {n_hashes}"
        )
    ids = df.select(F.col(id_col).alias("_id"),
                    F.col(text_col).alias("text"))
    sig = minhash_signatures(ids, "_id", n_hashes)
    bands = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(
                        *[
                            F.col(f"mh_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_no", "band_key"),
    )
    # within-bucket pairs WITHOUT a self-join: group each (band_no,
    # band_key) bucket, collect its sorted id set, and explode the
    # strictly-upper-triangle combinations. The aliased a/b self-join
    # this replaces defeated Spark's exchange reuse — both join sides
    # re-ran the whole scan->shingle->signature pipeline (measured: the
    # join stage cost one extra full signature evaluation plus two
    # exchanges; this form evaluates signatures ONCE and shuffles 8
    # short band rows per doc). Sorted-array pairing makes
    # doc_a < doc_b by construction — identical pair SET to the
    # oracle's SQL self-join (its band CTEs keep the join form;
    # DuckDB evaluates its CTE once). Skew note: a bucket of k docs
    # emits its k(k-1)/2 pairs from one row — the same k^2 blowup the
    # join form had on the same key, neither spreads a hot bucket.
    buckets = (
        bands.groupBy("band_no", "band_key")
        .agg(F.array_sort(F.collect_set("_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(
                                "ids", i + F.lit(2),
                                F.greatest(
                                    F.size("ids") - i - F.lit(1),
                                    F.lit(0),
                                ),
                            ),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

