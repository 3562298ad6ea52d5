"""The curate stage (operators/curate.curate_table) and its two verbs: the
adaptive recrawl collapse (identity, materialized and checkpointed modes,
crash-resume reuse), the `curate` CLI over recrawled and near-dup input,
the CLI and the `pipeline` verb keeping the same documents, and the
learned `clf` rule in `rule_flags` (bootstrapped labels, one-class
labels)."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F


def test_adaptive_collapse_identity_for_unique_ids(spark, tmp_path):
    """url-unique input must skip the collapse window entirely: mode
    'identity', rows pass through untouched, and nothing is written to
    the materialize dir (the common recrawl-free shard pays zero)."""
    from document_ai_spark.operators.curate import adaptive_collapse

    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        [(f"u{i}", f"2026-01-0{i + 1}", f"text {i}") for i in range(5)],
        "url string, warc_ts string, main_text string",
    ).write.parquet(src)
    mat = str(tmp_path / "collapsed")
    out, mode = adaptive_collapse(spark, src, mat)
    assert mode == "identity"
    assert out.count() == 5
    assert not os.path.exists(mat)


def test_adaptive_collapse_materializes_once_and_resumes(spark, tmp_path):
    """Input WITH recrawls pays the window exactly once: the collapsed
    table lands in the materialize dir with a _SUCCESS commit, keeps
    the NEWEST crawl per url, and a second call (crash-resume between
    the collapse write and the curated write) reuses the files instead
    of recomputing."""
    from document_ai_spark.operators.curate import adaptive_collapse

    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        [
            ("u0", "2026-01-01", "old crawl"),
            ("u0", "2026-01-09", "new crawl"),
            ("u1", "2026-01-02", "only crawl"),
        ],
        "url string, warc_ts string, main_text string",
    ).write.parquet(src)
    mat = str(tmp_path / "collapsed")
    out, mode = adaptive_collapse(spark, src, mat)
    assert mode == "materialized"
    rows = {r.url: r.main_text for r in out.collect()}
    assert rows == {"u0": "new crawl", "u1": "only crawl"}
    marker = os.path.join(mat, "_SUCCESS")
    assert os.path.exists(marker)
    stamp = os.stat(marker).st_mtime_ns
    out2, mode2 = adaptive_collapse(spark, src, mat)
    assert mode2 == "materialized"
    assert os.stat(marker).st_mtime_ns == stamp  # no rewrite
    assert {r.url: r.main_text for r in out2.collect()} == rows


def test_adaptive_collapse_checkpoints_without_workdir(spark, tmp_path):
    """Callers with no workdir (the curate CLI) omit materialize_dir:
    recrawled input still collapses to one newest row per url, paid
    once via localCheckpoint — mode 'checkpointed', nothing on disk."""
    from document_ai_spark.operators.curate import adaptive_collapse

    src = str(tmp_path / "extracted")
    spark.createDataFrame(
        [
            ("u0", "2026-01-01", "old crawl"),
            ("u0", "2026-01-09", "new crawl"),
            ("u1", "2026-01-02", "only crawl"),
        ],
        "url string, warc_ts string, main_text string",
    ).write.parquet(src)
    out, mode = adaptive_collapse(spark, src)
    assert mode == "checkpointed"
    assert {r.url: r.main_text for r in out.collect()} == {
        "u0": "new crawl", "u1": "only crawl"
    }


def test_curate_cli_collapses_recrawled_urls(spark, corpus_dir, tmp_path,
                                             capsys):
    """Duplicate url rows (re-crawls) must collapse before flagging:
    counts reflect distinct urls and the written table has no url
    twice — with the neardup and lm joins active (the multiplicative
    blowup case)."""
    from document_ai_spark.__main__ import main
    from document_ai_spark.operators.extraction import extract_pages

    pages = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(40)
    ex = extract_pages(pages, num_partitions=2)
    dup = ex.limit(3).withColumn(
        "warc_ts",
        F.lit(dt.datetime(2030, 1, 1)).cast("timestamp"),
    )
    src = str(tmp_path / "ex")
    ex.unionByName(dup).write.parquet(src)
    out = str(tmp_path / "kept")
    rc = main([
        "curate", "--extracted", src, "--output", out,
        "--rules", "dedup,neardup,quality,lm",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["total_docs"] == 40  # 43 rows, 40 urls
    kept = spark.read.parquet(out)
    assert kept.groupBy("url").count().filter("count > 1").count() == 0
    # the survivors of a re-crawled url are the NEWEST rows
    newest = kept.filter(F.col("warc_ts") >= "2029-01-01").count()
    dup_urls_kept = kept.join(
        dup.select("url"), "url", "left_semi"
    ).count()
    assert newest == dup_urls_kept


def test_cli_curate_neardup_rule(spark, corpus_dir, tmp_path, capsys):
    from document_ai_spark.__main__ import main
    from document_ai_spark.operators.extraction import extract_pages

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    src = str(tmp_path / "ex")
    extract_pages(pages, salted=False).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept")
    rc = main([
        "curate", "--extracted", src, "--output", out,
        "--rules", "dedup,neardup,quality",
    ])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert "after_neardup" in res
    assert res["after_neardup"] <= res["after_dedup"]
    assert res["written"] == res["after_quality"]


def test_curate_cli_and_pipeline_keep_the_same_docs(
    spark, corpus_dir, tmp_path, capsys
):
    """Both verbs run the one curate stage: over the same extracted table
    (with recrawled urls) and the same rules, the CLI writes exactly the
    rows the pipeline's curate stage keeps, and its `written` is the
    pipeline's `docs_kept`. The pipeline materializes the collapse in
    its workdir, the CLI checkpoints it."""
    from document_ai_spark.__main__ import main
    from document_ai_spark.pipeline import run_pipeline

    rules = ("dedup", "neardup", "quality", "lm", "clf")
    pages = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(40)
    recrawls = pages.limit(4).withColumn(
        "warc_ts", F.lit(dt.datetime(2030, 1, 1)).cast("timestamp")
    )
    src = str(tmp_path / "pages")
    pages.unionByName(recrawls).write.parquet(src)
    wd = str(tmp_path / "wd")
    summary = run_pipeline(
        spark, src, wd, str(tmp_path / "shards"), rules=rules,
        chunk_words=64, chunk_overlap=8, n_shards=2, shards_per_commit=2,
    )
    cur = summary["stages"]["curate"]
    assert cur["collapse"] == "materialized"
    assert cur["docs_in"] == 44

    out = str(tmp_path / "cli_kept")
    rc = main([
        "curate", "--extracted", os.path.join(wd, "extracted"),
        "--output", out, "--rules", ",".join(rules),
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def rows(path):
        return {
            (r.url, r.warc_ts, r.main_text)
            for r in spark.read.parquet(path)
            .select("url", "warc_ts", "main_text").collect()
        }

    cli_rows = rows(out)
    pipe_rows = rows(os.path.join(wd, "curated"))
    assert {r[0] for r in cli_rows} == {r[0] for r in pipe_rows}
    assert cli_rows == pipe_rows
    assert res["written"] == cur["docs_kept"] == len(cli_rows)
    assert res["kept"] == res["written"]
    assert res["total_docs"] == 40  # the funnel counts collapsed urls
    # non-vacuous: some docs are dropped, some kept, and every recrawled
    # url that survives does so with its newest crawl
    assert 0 < len(cli_rows) < 40
    newest = {r[0] for r in cli_rows if r[1].year == 2030}
    recrawled = {r.url for r in recrawls.select("url").collect()}
    assert newest == recrawled & {r[0] for r in cli_rows}


def test_clf_flags_bootstrap_and_funnel_rule(spark, clf_corpora):
    """The 'clf' curation rule (r5): rule_flags bootstraps the
    classifier's positives/negatives from the heuristic rule packs, and
    the learned filter agrees with the planted split; the funnel gains
    an into_clf rung when pass_clf is present."""
    from document_ai_spark.operators.curate import funnel_counts, rule_flags

    pos, neg = clf_corpora
    mixed = pos.unionByName(
        neg.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    rules = ("dedup", "quality", "gopher", "clf")
    flags = rule_flags(mixed, rules, lang_col=None)
    got = {r.doc_id: r.pass_clf for r in flags.collect()}
    pos_keep = sum(got[i] for i in range(150)) / 150
    neg_keep = sum(got[i + 10_000] for i in range(150)) / 150
    assert pos_keep > 0.9, pos_keep
    assert neg_keep < 0.1, neg_keep
    row = funnel_counts(flags, rules).collect()[0]
    assert row.into_clf >= row.kept
    assert row.kept <= 160  # the junk side is filtered


def test_clf_flags_degenerate_labels_pass_all(spark, clf_corpora):
    """All-one-class bootstrap labels mean no signal: every row passes
    instead of fitting a vacuous model."""
    from document_ai_spark.operators.curate import rule_flags

    pos, _ = clf_corpora  # every fluent doc passes quality AND gopher
    out = rule_flags(pos, ("clf",), lang_col=None)
    assert out.count() == 150
    assert out.filter("NOT pass_clf").count() == 0
