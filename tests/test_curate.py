"""The curate stage (operators/curate.curate_table) and its two verbs: the
adaptive recrawl collapse (identity and materialized modes, crash-resume
reuse, the deterministic tie-break), the `curate` CLI over recrawled and
near-dup input, the CLI and the `pipeline` verb keeping the same
documents, the near-dup keepers riding the one flag scan, the learned
`clf` rule in `rule_flags` (bootstrapped labels, one-class labels), and
`funnel_counts`' rungs under rule subsets."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


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


def test_collapse_recrawls_deterministic_tiebreak(spark):
    """Equal timestamps pick the winner by content, never by partition
    order."""
    from document_ai_spark.operators.curate import collapse_recrawls

    ts = dt.datetime(2026, 1, 1)
    rows = [("u/1", ts, "bbb"), ("u/1", ts, "aaa"), ("u/2", ts, "zzz")]
    results = set()
    for nparts in (1, 2, 3):
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, main_text string"
        ).repartition(nparts)
        got = tuple(sorted(
            (r.url, r.main_text)
            for r in collapse_recrawls(df).collect()
        ))
        results.add(got)
    assert results == {(("u/1", "aaa"), ("u/2", "zzz"))}


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
    # the collapse was materialized beside the output and cleaned up
    assert sorted(os.listdir(tmp_path)) == ["ex", "kept"]


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
    pipeline's `docs_kept`. Both materialize the collapse: the pipeline
    in its workdir, the CLI in a temporary dir next to its output."""
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


def test_rule_flags_neardup_marks_clones(spark):
    from document_ai_spark.operators.curate import rule_flags

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base),  # exact clone of 1 -> same shingle set -> same cluster
        (3, base + " extra trailing words here"),  # near-dup of 1
        (4, "entirely different text with its own vocabulary set "
            "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.pass_neardup
        for r in rule_flags(df, ("neardup",), lang_col=None).collect()
    }
    assert got[1] is True      # cluster keeper (min id)
    assert got[2] is False     # clone loses to keeper
    assert got[4] is True      # singleton passes
    # doc 3 shares most shingles with 1/2 -> at least one LSH band should
    # collide; if it clusters, it must not be the keeper
    assert got[3] in (False, True)


def test_neardup_keepers_join_onto_the_one_flag_scan(spark):
    """The near-dup keepers join onto the flag frame by id: the cluster
    labels come back as a small eager frame, so neither rule_flags with
    neardup over a parquet input nor the registry funnel reads its table
    a second time (a left join from a fresh `select(id)` scan did)."""
    from document_ai_spark.operators.curate import rule_flags
    from document_ai_spark.queries_ml import q_curation_funnel

    def scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Scan parquet")

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    flags = rule_flags(docs, ("dedup", "neardup", "quality"), lang_col=None)
    assert "pass_neardup" in flags.columns
    assert scans(flags) == 1
    assert scans(q_curation_funnel(spark, SF)) == 1


def test_funnel_counts_monotone_with_neardup(spark):
    from document_ai_spark.queries_ml import q_curation_funnel

    row = q_curation_funnel(spark, SF).collect()[0]
    assert (
        row.total_docs
        >= row.after_dedup
        >= row.after_neardup
        >= row.after_quality
        >= row.after_gopher
        >= row.kept
    )
    # the stage must not be vacuous at this SF (26 cluster non-keepers)
    assert row.after_neardup < row.after_dedup


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


def test_funnel_clf_without_lm_reports_into_clf(spark):
    """A funnel with clf but NO lm must not print a phantom LM rung:
    the count entering the classifier is named into_clf (and there is
    no into_lm column at all when the lm stage never ran)."""
    from document_ai_spark.operators.curate import ALL_RULES, funnel_counts

    flags = spark.createDataFrame(
        [(1, True, True, True, True, True, 10),
         (2, True, True, True, True, False, 10),
         (3, True, False, True, True, True, 10)],
        "doc_id long, pass_dedup boolean, pass_quality boolean, "
        "pass_gopher boolean, pass_lang boolean, pass_clf boolean, "
        "n_tokens long",
    )
    row = funnel_counts(flags, ALL_RULES).collect()[0]
    cols = set(funnel_counts(flags, ALL_RULES).columns)
    assert "into_clf" in cols and "into_lm" not in cols
    assert "after_lm" not in cols and "after_lang" not in cols
    assert row.into_clf == 2  # docs 1, 2 reach the classifier
    assert row.kept == 1


def test_funnel_counts_respects_rule_subset(spark):
    """funnel_counts(flags, rules) must agree with kept_filter under the
    same rule subset: curation_flags always emits quality/gopher, so an
    unrestricted funnel for `--rules dedup,quality` would conjoin
    gopher anyway and print kept < written."""
    from document_ai_spark.operators.curate import (
        ALL_RULES,
        funnel_counts,
        kept_filter,
    )

    flags = spark.createDataFrame(
        [(1, True, True, False, 10),
         (2, True, True, True, 10),
         (3, True, False, True, 10)],
        "doc_id long, pass_dedup boolean, pass_quality boolean, "
        "pass_gopher boolean, n_tokens long",
    )
    rules = ("dedup", "quality")
    row = funnel_counts(flags, rules).collect()[0]
    assert row.kept == kept_filter(flags, rules).count() == 2
    cols = set(funnel_counts(flags, rules).columns)
    assert "after_gopher" not in cols  # unselected stage: no rung
    # every rule selected: every present flag counts
    full = funnel_counts(flags, ALL_RULES).collect()[0]
    assert full.after_gopher == 1 and full.kept == 1
