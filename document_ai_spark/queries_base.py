"""Shared word/shingle normalization used across the query modules —
ONE frozen policy in both engines (Spark expression + DuckDB SQL twin):
split(regexp_replace(trim(text), '\\s+', ' '), ' ').
Inline the split into per-element lambdas and both engines go O(words^2)
per document — always materialize `words` once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SHINGLE_W = 3


def _norm_words(col: str | F.Column = "text") -> F.Column:
    """Frozen word split over a column name OR an expression (operators
    that pre-process the text, e.g. a NULL-coalesce, pass the Column)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.regexp_replace(F.trim(c), r"\s+", " "), " ")


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


N_MINHASH = 8
N_BANDS = 4  # 2 hashes per band


def minhash_band_pairs(df, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = N_MINHASH,
                       n_bands: int = N_BANDS,
                       rows_per_band: int | None = None):
    """Generic MinHash + LSH candidate-pair builder over any
    (id, text) frame — ONE construction (8-hex-char md5-slice minima,
    `rows_per_band` consecutive hashes concatenated per band) shared by
    the documents-table queries (queries_ml) and the curation engine
    (operators/curate), so the DuckDB oracle twin (_sql_minhash_core)
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
    # dedup shingles PER DOC (array_distinct) before exploding: the
    # min() signature is identical over a multiset or its distinct set,
    # and the per-doc form deletes what used to be a full shuffle of
    # raw shingle text (a global .distinct() on the exploded rows) —
    # at corpus scale that shuffle moves ~W x corpus bytes for zero
    # information. The groupBy below then map-side-combines straight
    # off the scan: only 8 minima per doc cross the wire.
    sh = ids.withColumn("words", _norm_words()).select(
        "_id",
        F.explode(
            F.array_distinct(_shingles(F.col("words")))
        ).alias("shingle"),
    )
    # one md5 per FOUR hash slots (r5): h_k = md5('k:'||shingle); mh_j is
    # the (j%4)-th 8-hex-char slice of h_{j//4}. Lexicographic MIN over a
    # fixed-width lowercase-hex slice equals numeric MIN of that 32-bit
    # word, so each slice is a valid minhash (the four words of one md5
    # are independent uniform bits). 4x fewer md5 evaluations per shingle
    # and 4x smaller minima / band keys on the shuffle wire. r6: the
    # slices are PROJECTED below the aggregate so each md5 is computed
    # once per row by construction (the r5 form relied on codegen CSE
    # inside the aggregate expressions) and the aggregate itself is 8
    # plain min(column) buffers — simpler generated code. The DuckDB
    # oracle twin (queries_ml._sql_minhash_core) slices the same md5
    # hex identically.
    slice_cols = []
    for k in range((n_hashes + 3) // 4):
        h = F.md5(
            F.encode(
                F.concat_ws(":", F.lit(str(k)), "shingle"), "UTF-8"
            )
        )
        slice_cols += [
            F.substring(h, r * 8 + 1, 8).alias(f"_s{4 * k + r}")
            for r in range(4)
            if 4 * k + r < n_hashes
        ]
    sliced = sh.select("_id", *slice_cols)
    sig = sliced.groupBy("_id").agg(
        *[F.min(f"_s{j}").alias(f"mh_{j}") for j in range(n_hashes)]
    )
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
    # oracle's SQL self-join (_sql_minhash_core keeps the join form;
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


_SQL_WORDS = "str_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"
_SQL_WORDS_CTE = f"SELECT doc_id, {_SQL_WORDS} AS words FROM documents"
_SQL_SHINGLES_FROM_WORDS = """
    CASE WHEN len(words) >= 3 THEN
      list_transform(range(1, len(words) - 1),
        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
    ELSE [] END
"""
