"""Round-5 perf-change regression tests: the MinHash per-doc shingle
dedup (the signature stage vs the per-doc and the old global-distinct
Spark constructions) and the band-bucket pair builder. The adaptive
collapse tests live in test_curate.py, the curate summary's collapse
mode in test_pipeline.py, the footer row count's path tests in
test_sources_and_plans.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from document_ai_spark.queries_base import (
    _norm_words,
    _shingles,
    minhash_band_pairs,
    minhash_signatures,
)


def test_minhash_per_doc_distinct_matches_global_distinct(spark):
    """minhash_signatures must equal both inline Spark references: the
    r5 per-doc form (array_distinct before the explode) and the older
    global .distinct() on exploded shingle rows — MIN over a multiset
    equals MIN over its distinct set. The docs carry heavy repeated
    shingles, within and across docs."""
    phrase = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, " ".join([phrase] * 10)),          # self-repeating
            (2, phrase),                            # subset, shared
            (3, phrase + " epsilon " + phrase),     # repeats + extras
            (4, "zeta eta"),                        # < 3 words: no rows
        ],
        "doc_id long, text string",
    )

    def _sigs(sh):
        h = [
            F.md5(F.encode(F.concat_ws(":", F.lit(str(k)), "shingle"),
                           "UTF-8"))
            for k in range(2)
        ]
        aggs = [
            F.min(F.substring(h[j // 4], (j % 4) * 8 + 1, 8)).alias(
                f"mh_{j}"
            )
            for j in range(8)
        ]
        return {
            r.doc_id: tuple(r[f"mh_{j}"] for j in range(8))
            for r in sh.groupBy("doc_id").agg(*aggs).collect()
        }

    base = docs.withColumn("words", _norm_words())
    old = _sigs(
        base.select(
            "doc_id", F.explode(_shingles(F.col("words"))).alias("shingle")
        ).distinct()
    )
    per_doc = _sigs(
        base.select(
            "doc_id",
            F.explode(F.array_distinct(_shingles(F.col("words")))).alias(
                "shingle"
            ),
        )
    )
    got = {
        r.doc_id: tuple(r[f"mh_{j}"] for j in range(8))
        for r in minhash_signatures(docs).collect()
    }
    assert got == old == per_doc and set(got) == {1, 2, 3}

    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(docs).collect()
    }
    assert (1, 2) in pairs  # shared-phrase docs still collide


def test_bucket_pair_generation_matches_join_form(spark):
    """The r5 single-scan pair builder (band-bucket collect_set +
    upper-triangle explode, replacing the aliased self-join that
    re-evaluated the whole signature pipeline per side) must emit the
    IDENTICAL pair set the join form produced, with doc_a < doc_b, on
    string ids (the curate path is url-keyed) and bucket sizes > 2
    (the triangle explode must cover every combination, not just
    adjacent ids)."""
    group = {
        "a": ("red orange yellow green blue indigo violet crimson "
              "amber teal magenta cyan maroon olive navy", 4),
        "b": ("lorem ipsum dolor sit amet consectetur adipiscing elit "
              "sed do eiusmod tempor incididunt ut labore", 3),
        "c": ("solo document with its very own vocabulary nothing "
              "shared anywhere else across the corpus rows", 1),
    }
    rows = [
        (f"{g}-{i:02d}", text)
        for g, (text, k) in group.items()
        for i in range(k)
    ]
    df = spark.createDataFrame(rows, "url string, body string")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(
            df, id_col="url", text_col="body"
        ).collect()
    }
    expected = {
        (f"{g}-{i:02d}", f"{g}-{j:02d}")
        for g, (_, k) in group.items()
        for i in range(k)
        for j in range(i + 1, k)
    }
    assert got == expected  # 6 pairs in a, 3 in b, none for c or cross
    assert all(x < y for x, y in got)
