"""Training-mix composition (deterministic domain weights) and the
CCNet-style unigram-LM quality scorer."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.mixing import domain_mixture
from document_ai_spark.operators.quality_lm import (
    lm_quality_scores,
    unigram_vocab,
)


@pytest.fixture(scope="module")
def mix_df(spark):
    rows = [
        (i, ["web", "wiki", "code"][i % 3]) for i in range(3000)
    ]
    return spark.createDataFrame(rows, ["doc_id", "domain"])


def test_domain_mixture_weights(mix_df):
    out = domain_mixture(
        mix_df, {"web": 0.5, "wiki": 3.0, "code": 2.5}
    )
    counts = {
        r.domain: r.n
        for r in out.groupBy("domain").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # 1000 source rows per domain; hash thresholds land within a few
    # percent of the target at this size
    assert abs(counts["web"] - 500) < 60
    assert abs(counts["wiki"] - 3000) < 1  # integer weight: exact 3x
    assert abs(counts["code"] - 2500) < 60
    # upsampled copies are numbered and complete per kept row
    wiki = out.filter(F.col("domain") == "wiki")
    assert wiki.filter(F.col("copy_no") == 2).count() == 1000
    assert wiki.groupBy("doc_id").count().filter("count <> 3").count() == 0


def test_domain_mixture_deterministic_and_default(mix_df):
    a = sorted(
        (r.doc_id, r.copy_no)
        for r in domain_mixture(mix_df, {"web": 0.4}, seed=7).collect()
    )
    b = sorted(
        (r.doc_id, r.copy_no)
        for r in domain_mixture(mix_df, {"web": 0.4}, seed=7).collect()
    )
    assert a == b  # content-hash, never rand()
    # unlisted domains keep default weight 1.0 exactly
    out = domain_mixture(mix_df, {"web": 0.4}, seed=7)
    assert out.filter(F.col("domain") == "wiki").count() == 1000
    with pytest.raises(ValueError):
        domain_mixture(mix_df, {"web": -1.0})


def test_domain_mixture_empty_weights(mix_df):
    """weights={} means default_weight everywhere (r4 ADVICE: the empty
    create_map() used to raise AnalysisException)."""
    assert domain_mixture(mix_df, {}).count() == 3000  # default 1.0
    out = domain_mixture(mix_df, {}, default_weight=2.0)
    assert out.count() == 6000
    assert out.filter(F.col("copy_no") == 1).count() == 3000


def test_lm_quality_scores_self_vocab(spark):
    fluent = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(i, fluent) for i in range(8)] + [
        (100, "zxqj vvkw pplm qqrs ttuv wwxy"),  # gibberish: rare words
        (101, ""),                                # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in lm_quality_scores(df).collect()}
    assert got[101].n_words == 0 and got[101].lm_bucket == "tail"
    assert got[101].bits_per_word is None
    # gibberish words are corpus-rare -> highest surprisal -> tail
    assert got[100].lm_bucket == "tail"
    assert got[100].bits_per_word > got[0].bits_per_word
    # the fluent docs all share one score; the head fraction is fluent
    assert got[0].lm_bucket == "head"

    # spot-check the arithmetic against a direct computation
    vocab = {
        r.word: r["count"] for r in unigram_vocab(df).collect()
    }
    n = sum(vocab.values())
    v = len(vocab)
    words = fluent.strip().split()
    expect = sum(
        round(math.log2((n + v) / (vocab[w] + 1)) * 1_000_000)
        for w in words
    ) / (len(words) * 1_000_000)
    assert abs(got[0].bits_per_word - round(expect, 6)) < 1e-6


def test_lm_exact_rank_buckets(spark):
    """bucket_mode='exact_rank': the head is exactly the lowest
    ceil(0.3*n) scored docs by (bits_per_word, id), the tail the
    highest ceil(0.3*n) plus wordless docs — and scores are identical
    to the approx mode (only the bucket machinery differs)."""
    rows = [
        (i, "common words repeated " + ("common words " * (1 + i % 5)))
        for i in range(20)
    ] + [(99, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        r.doc_id: r
        for r in lm_quality_scores(df, bucket_mode="exact_rank").collect()
    }
    approx = {
        r.doc_id: r for r in lm_quality_scores(df).collect()
    }
    assert len(exact) == 21
    assert exact[99].lm_bucket == "tail"
    for i in exact:
        assert exact[i].bits_per_word == approx[i].bits_per_word
    scored = sorted(
        ((exact[i].bits_per_word, i) for i in exact if i != 99),
    )
    n = len(scored)
    head_n = math.ceil(0.3 * n)
    tail_n = math.ceil(0.3 * n)
    for rank, (_, i) in enumerate(scored, start=1):
        want = (
            "head" if rank <= head_n
            else ("tail" if rank > n - tail_n else "middle")
        )
        assert exact[i].lm_bucket == want, (i, rank)


def test_lm_vocab_cut_is_threshold_not_sort(spark):
    """A triggered max_vocab cap keeps the high-count words via a
    count-threshold filter (never a global TakeOrdered); an untriggered
    cap changes nothing vs max_vocab=None."""
    rows = [(i, "alpha beta gamma " * 3 + f"rare{i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        r.doc_id: (r.bits_per_word, r.lm_bucket)
        for r in lm_quality_scores(df, max_vocab=None).collect()
    }
    untriggered = {
        r.doc_id: (r.bits_per_word, r.lm_bucket)
        for r in lm_quality_scores(df, max_vocab=1000).collect()
    }
    assert uncapped == untriggered
    # cap of 3 on 43 words (3 with count 120, 40 hapaxes): the quantile
    # threshold lands in the hapax mass (count 1) and the STRICT filter
    # drops the whole tie-mass, keeping exactly the 3 repeating words;
    # every rare word scores as OOV under the smaller (N=360, V=3)
    # model -> all docs share the one recomputed score
    capped = lm_quality_scores(df, max_vocab=3).collect()
    assert len({r.bits_per_word for r in capped}) == 1
    want = round(
        (9 * round(math.log2(363 / 121) * 1e6)
         + round(math.log2(363 / 1) * 1e6)) / (10 * 1e6), 6
    )
    assert capped[0].bits_per_word == want


def test_curate_cli_lm_rule(spark, corpus_dir, tmp_path, capsys):
    """The 'lm' curation rule drops the tail perplexity bucket; funnel
    stays monotonic and the written table matches kept."""
    import json
    import os

    from document_ai_spark.__main__ import main
    from document_ai_spark.operators.extraction import extract_pages

    pages = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(80)
    src = str(tmp_path / "ex")
    extract_pages(pages, num_partitions=2).write.parquet(src)
    out = str(tmp_path / "kept")
    rc = main([
        "curate", "--extracted", src, "--output", out,
        "--rules", "dedup,quality,lm",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the funnel ladder has a rung only for the SELECTED rules dedup,
    # quality and lm (no after_gopher: gopher, which rejects the
    # synthetic stopword-free vocabulary, is not selected), and its
    # `kept` is what was written
    assert (res["total_docs"] >= res["after_dedup"]
            >= res["after_quality"] >= res["into_lm"] >= res["kept"])
    assert res["written"] > 0
    assert spark.read.parquet(out).count() == res["written"]
    # the lm stage dropped a real tail: strictly fewer docs than
    # dedup+quality alone keep
    rc2 = main([
        "curate", "--extracted", src,
        "--output", str(tmp_path / "kept_dq"), "--rules", "dedup,quality",
    ])
    assert rc2 == 0
    res_dq = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )
    assert res["written"] < res_dq["written"]


def test_lm_quality_scores_reference_vocab(spark):
    """Scoring against an external reference distribution: words absent
    from the reference get the smoothed floor, so off-distribution docs
    score strictly worse."""
    ref = spark.createDataFrame(
        [("the", 1000), ("cat", 10), ("sat", 10)], ["word", "count"]
    )
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "zz yy xx")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.bits_per_word
        for r in lm_quality_scores(df, vocab=ref).collect()
    }
    assert got[2] > got[1]
    floor = math.log2((1020 + 3) / 1)
    assert abs(got[2] - round(floor, 6)) < 1e-5
