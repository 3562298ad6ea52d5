"""The one-command crawl-to-shards pipeline: end-to-end content checks
and the crash/resume contract (kill after extract, resume without
dup/drop, completed stages skipped)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from document_ai_spark.pipeline import run_pipeline
from document_ai_spark.session import cds_state, session_report

RULES = ("dedup", "quality")  # gopher rejects the synthetic vocabulary


@pytest.fixture(scope="module")
def pages_dir(spark, corpus_dir, tmp_path_factory):
    """60-page slice of the datagen corpus (module-scoped: the pipeline
    runs several times)."""
    out = str(tmp_path_factory.mktemp("pipe_pages") / "pages")
    (
        spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
        .orderBy("url").limit(60).write.parquet(out)
    )
    return out


def _shards_content(spark, out_dir) -> set[tuple]:
    shards = [
        os.path.join(out_dir, n)
        for n in os.listdir(out_dir)
        if n.endswith(".jsonl.gz")
    ]
    rows = spark.read.json(shards).collect()
    return {
        (r.url, int(r.meta.chunk_no), r.text) for r in rows
    }


def test_pipeline_clf_rule(spark, pages_dir, tmp_path):
    """--rules dedup,quality,clf (r5): the learned-classifier stage
    composes inside the pipeline verb — bootstrap labels come from the
    heuristic flags already computed, the run completes, and the kept
    set is a subset of what dedup+quality alone keep."""
    wd = str(tmp_path / "wd_clf")
    out = str(tmp_path / "shards_clf")
    summary = run_pipeline(
        spark, pages_dir, wd, out, rules=("dedup", "quality", "clf"),
        chunk_words=64, chunk_overlap=8, n_shards=4,
        shards_per_commit=2,
    )
    assert not summary["stages"]["curate"]["skipped"]
    assert summary["stages"]["curate"]["rules"] == [
        "dedup", "quality", "clf"
    ]
    # the run reports how its driver JVM started (the class archive),
    # its young-generation cap and its collections up to the verb's end
    report = session_report(spark)
    assert set(summary["session"]) == {"cds", "young_max_mb", "gc"}
    assert summary["session"]["cds"] == cds_state(spark)
    assert cds_state(spark) in ("absent", "created", "reused")
    assert summary["session"]["young_max_mb"] == report["young_max_mb"] > 0
    gc = summary["session"]["gc"]
    assert 0 <= gc["count"] <= report["gc"]["count"]
    assert 0 <= gc["ms"] <= report["gc"]["ms"]
    kept_clf = summary["stages"]["curate"]["docs_kept"]
    assert 0 < kept_clf <= 60
    wd2 = str(tmp_path / "wd_dq")
    base = run_pipeline(
        spark, pages_dir, wd2, str(tmp_path / "shards_dq"), rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=2,
    )
    clf_urls = {
        r.url for r in spark.read.parquet(
            os.path.join(wd, "curated")).select("url").collect()
    }
    dq_urls = {
        r.url for r in spark.read.parquet(
            os.path.join(wd2, "curated")).select("url").collect()
    }
    assert clf_urls <= dq_urls
    assert kept_clf <= base["stages"]["curate"]["docs_kept"]


def test_pipeline_summary_reports_collapse_mode(spark, corpus_dir, tmp_path):
    """The curate stage summary must say which collapse branch ran —
    'identity' for a url-unique pages table (the datagen corpus)."""
    pages = str(tmp_path / "pages")
    (
        spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
        .orderBy("url").limit(12).write.parquet(pages)
    )
    summary = run_pipeline(
        spark,
        pages,
        str(tmp_path / "wd"),
        str(tmp_path / "out"),
        rules=("dedup", "quality"),
        n_shards=2,
        shards_per_commit=2,
    )
    assert summary["stages"]["curate"]["collapse"] == "identity"
    assert summary["stages"]["curate"]["docs_in"] == 12


def test_pipeline_excise_and_subword_units(spark, pages_dir, tmp_path):
    """--excise + --chunk-unit subwords compose in the verb (r5): the
    excise stage rewrites main_text to the normalized cleaned form
    (a no-op minus normalization on this corpus — no cross-doc
    verbatim passages), the BPE stage learns a merge table, chunks
    carry chunk_subwords within the stream-cut budget, and packs are
    budgeted in subwords."""
    from document_ai_spark.queries_text import _winnow_text

    wd = str(tmp_path / "wd_ex")
    out = str(tmp_path / "shards_ex")
    budget = 48
    summary = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=budget, chunk_overlap=0, n_shards=4,
        shards_per_commit=2, excise=True, chunk_unit="subwords",
        pack_words=256,
    )
    ex = summary["stages"]["excise"]
    assert not ex["skipped"]
    # the datagen corpus genuinely shares the odd verbatim template
    # sentence, so a handful of excisions is correct behavior
    assert ex["docs_excised"] <= 5
    assert summary["stages"]["bpe"]["n_merges"] > 0
    # each curated doc under the engine's own winnow normalization
    norms = {
        r.url: r.t
        for r in spark.read.parquet(os.path.join(wd, "curated")).select(
            "url", _winnow_text("main_text").alias("t")
        ).collect()
    }
    exrows = spark.read.parquet(os.path.join(wd, "excised")).collect()
    excised = {r.url: r.main_text for r in exrows}
    assert set(excised) == set(norms)
    for r in exrows:
        norm = norms[r.url]
        if r.n_spans == 0:
            assert r.main_text == norm
        else:
            assert len(r.main_text) == len(norm) - r.chars_removed
            assert r.main_text != norm
    chunks = spark.read.parquet(os.path.join(wd, "chunks")).collect()
    # bounded overflow: a word's piece count never exceeds its char
    # count, so budget + widest-word-chars - 1 bounds every chunk
    widest_chars = max(
        len(w) for t in excised.values() for w in t.split(" ")
    )
    assert all(
        r.chunk_subwords <= budget + widest_chars - 1 for r in chunks
    )
    # export carries the subword meta and the pack identity
    shard = [
        os.path.join(out, n) for n in os.listdir(out)
        if n.endswith(".jsonl.gz")
    ]
    rec = spark.read.json(shard).first()
    assert rec.meta.chunk_subwords is not None
    assert rec.meta.pack_no is not None
    # one resume rule: every stage records a boolean `skipped`, and
    # every stage that ran records its wall time
    for name, st in summary["stages"].items():
        assert isinstance(st["skipped"], bool), name
        assert st["skipped"] or "wall_sec" in st, name
    # resume: re-run skips every stage including excise
    again = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=budget, chunk_overlap=0, n_shards=4,
        shards_per_commit=2, excise=True, chunk_unit="subwords",
        pack_words=256,
    )
    assert again["stages"]["excise"]["skipped"]
    assert again["stages"]["chunk"]["skipped"]
    # only extract runs again (it resumes through its shard lineage)
    assert {
        name for name, st in again["stages"].items() if not st["skipped"]
    } == {"extract"}
    # validation: subword budgets refuse an overlap
    with pytest.raises(ValueError):
        run_pipeline(
            spark, pages_dir, str(tmp_path / "wd_bad"),
            str(tmp_path / "out_bad"), rules=RULES,
            chunk_overlap=8, chunk_unit="subwords",
        )


def test_pipeline_end_to_end(spark, pages_dir, tmp_path):
    wd = str(tmp_path / "wd")
    out = str(tmp_path / "shards")
    summary = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4,
        shards_per_commit=2,
    )
    assert summary["stages"]["extract"]["docs"] == 60
    assert not summary["stages"]["curate"]["skipped"]
    kept = summary["stages"]["curate"]["docs_kept"]
    assert 0 < kept <= 60
    assert summary["stages"]["export"]["records"] == summary[
        "stages"
    ]["chunk"]["chunks"]
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    # chunk text round-trips: reassembling chunk 0s must prefix-match the
    # curated main_text normalization
    content = _shards_content(spark, out)
    curated = {
        r.url: r.main_text
        for r in spark.read.parquet(os.path.join(wd, "curated")).collect()
    }
    assert {u for u, _, _ in content} == set(curated)
    for url, chunk_no, text in content:
        if chunk_no == 0:
            import re

            norm = re.sub(r"\s+", " ", curated[url].strip())
            assert norm.startswith(text.split(" ")[0])

    # re-run: everything is committed -> every stage skips, extract
    # resumes past all shards, output untouched
    before = {
        n: os.path.getmtime(os.path.join(out, n)) for n in os.listdir(out)
    }
    s2 = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=2,
    )
    assert s2["stages"]["extract"]["shards_done_prior"] == 4
    assert s2["stages"]["extract"]["chunks"] == 0
    for st in ("curate", "chunk", "export"):
        assert s2["stages"][st]["skipped"] is True
    after = {
        n: os.path.getmtime(os.path.join(out, n)) for n in os.listdir(out)
    }
    assert before == after


def test_pipeline_crash_after_extract_resumes_exactly(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Kill the run at the curate stage; the resumed run must skip the
    completed stages, redo only the tail, and produce byte-identical
    shard content to an uninterrupted reference run."""
    from document_ai_spark.operators import curate as curate_mod

    ref_out = str(tmp_path / "ref_shards")
    run_pipeline(
        spark, pages_dir, str(tmp_path / "ref_wd"), ref_out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=2,
    )

    wd = str(tmp_path / "wd")
    out = str(tmp_path / "shards")
    real = curate_mod.curation_flags

    def boom(*a, **k):
        raise RuntimeError("simulated crash at curate")

    monkeypatch.setattr(curate_mod, "curation_flags", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(
            spark, pages_dir, wd, out, rules=RULES,
            chunk_words=64, chunk_overlap=8, n_shards=4,
            shards_per_commit=2,
        )
    monkeypatch.setattr(curate_mod, "curation_flags", real)

    summary = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=2,
    )
    # extraction had completed before the crash: all 4 shards resume
    assert summary["stages"]["extract"]["shards_done_prior"] == 4
    assert summary["stages"]["extract"]["chunks"] == 0
    assert not summary["stages"]["curate"]["skipped"]
    # no dup, no drop: identical shard content to the reference run
    assert _shards_content(spark, out) == _shards_content(spark, ref_out)


def test_pipeline_compaction_stage(spark, pages_dir, tmp_path):
    """--compact-mb defragments the extracted table between extract and
    curate; shard content must be unaffected and the stage must skip on
    a clean re-run."""
    wd = str(tmp_path / "wd")
    out = str(tmp_path / "shards")
    s1 = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=1,
        compact_mb=64,
    )
    comp = s1["stages"]["compact"]
    assert not comp["skipped"]
    assert comp["after"]["n_files"] <= comp["before"]["n_files"]
    assert comp["rows"] == 60
    assert spark.read.parquet(
        os.path.join(wd, "extracted")
    ).count() == 60

    ref = run_pipeline(
        spark, pages_dir, str(tmp_path / "wd2"), str(tmp_path / "s2"),
        rules=RULES, chunk_words=64, chunk_overlap=8, n_shards=4,
        shards_per_commit=1,
    )
    assert "compact" not in ref["stages"]
    assert _shards_content(spark, out) == _shards_content(
        spark, str(tmp_path / "s2")
    )

    s3 = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=64, chunk_overlap=8, n_shards=4, shards_per_commit=1,
        compact_mb=64,
    )
    assert s3["stages"]["compact"]["skipped"] is True


def test_pipeline_packing_stage(spark, pages_dir, tmp_path):
    """--pack-words groups chunks into fixed word budgets; exported
    records carry the pack identity and cover every chunk once."""
    wd = str(tmp_path / "wd")
    out = str(tmp_path / "shards")
    s = run_pipeline(
        spark, pages_dir, wd, out, rules=RULES,
        chunk_words=32, chunk_overlap=4, n_shards=2, shards_per_commit=2,
        pack_words=96,
    )
    assert s["stages"]["pack"]["packs"] > 0
    assert s["stages"]["export"]["records"] == s["stages"]["chunk"][
        "chunks"
    ]
    shards = [
        os.path.join(out, n)
        for n in os.listdir(out)
        if n.endswith(".jsonl.gz")
    ]
    rows = spark.read.json(shards).collect()
    keys = {(r.url, int(r.meta.chunk_no)) for r in rows}
    assert len(keys) == len(rows)  # every chunk exported exactly once
    budgets: dict[tuple, int] = {}
    for r in rows:
        k = (int(r.meta.pack_group), int(r.meta.pack_no))
        budgets[k] = budgets.get(k, 0) + int(r.meta.chunk_words)
    assert all(t <= 96 + 32 - 1 for t in budgets.values())


def test_pipeline_from_warc_archives(spark, corpus_dir, tmp_path):
    """input_format='warc': archives parse once into the pages stage,
    which is skipped on re-run."""
    from tests.test_warc_source import _write_warcs

    src = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(30).collect()
    pages = [
        (r.url, r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"), bytes(r.html))
        for r in src
    ]
    paths = _write_warcs(tmp_path, pages, gz=True)
    wd = str(tmp_path / "wd")
    out = str(tmp_path / "shards")
    s1 = run_pipeline(
        spark, ",".join(paths), wd, out, input_format="warc",
        rules=RULES, chunk_words=64, chunk_overlap=8, n_shards=2,
        shards_per_commit=2,
    )
    assert not s1["stages"]["pages"]["skipped"]
    assert s1["stages"]["pages"]["archives"] == 2
    # 30 pages + 1 resync duplicate record; extraction is url-keyed rows
    assert s1["stages"]["extract"]["docs"] == 31
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    # the resync duplicate url collapsed to ONE crawl row: no url may
    # repeat a chunk_no in the shards
    content = _shards_content(spark, out)
    assert len(content) == len({(u, c) for u, c, _ in content})
    assert spark.read.parquet(
        os.path.join(wd, "curated")
    ).groupBy("url").count().filter("count > 1").count() == 0
    s2 = run_pipeline(
        spark, ",".join(paths), wd, out, input_format="warc",
        rules=RULES, chunk_words=64, chunk_overlap=8, n_shards=2,
        shards_per_commit=2,
    )
    assert s2["stages"]["pages"]["skipped"] is True
    assert s2["stages"]["extract"]["chunks"] == 0


def test_pipeline_incremental_baseline(spark, pages_dir, tmp_path):
    """--baseline-pages: only new-or-changed html is re-processed; the
    diff counts land in the summary."""
    pages = spark.read.parquet(pages_dir)
    # second crawl: drop 5 urls, mutate the html of 3, add 2 new
    urls = sorted(r.url for r in pages.select("url").collect())
    dropped = set(urls[:5])
    changed = set(urls[5:8])
    cur = pages.filter(~F.col("url").isin(*dropped)).withColumn(
        "html",
        F.when(
            F.col("url").isin(*changed),
            F.concat(F.col("html"), F.lit(b"<!--recrawl-->")),
        ).otherwise(F.col("html")),
    )
    added = pages.filter(F.col("url").isin(urls[0])).withColumn(
        "url", F.concat(F.col("url"), F.lit("-new"))
    )
    added2 = pages.filter(F.col("url").isin(urls[1])).withColumn(
        "url", F.concat(F.col("url"), F.lit("-new2"))
    )
    cur = cur.unionByName(added).unionByName(added2)
    cur_dir = str(tmp_path / "crawl2")
    cur.write.parquet(cur_dir)

    s = run_pipeline(
        spark, cur_dir, str(tmp_path / "wd"), str(tmp_path / "shards"),
        rules=RULES, chunk_words=64, chunk_overlap=8, n_shards=2,
        shards_per_commit=2, baseline_pages=pages_dir,
    )
    inc = s["stages"]["incremental"]
    assert inc["added"] == 2 and inc["changed"] == 3
    assert inc["removed"] == 5 and inc["unchanged"] == 55 - 3
    # only the 5 refresh targets were extracted
    assert s["stages"]["extract"]["docs"] == 5


def test_pipeline_cli_with_gates(spark, corpus_dir, tmp_path, capsys):
    """CLI verb end-to-end with the noindex gate + a robots gate that
    disallows one host."""
    from document_ai_spark.__main__ import main
    from document_ai_spark.functions.url import url_host

    pages = spark.read.parquet(
        os.path.join(corpus_dir, "pages.parquet")
    ).orderBy("url").limit(40)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    hosts = [
        r.h for r in pages.select(
            url_host(F.col("url")).alias("h")
        ).distinct().collect()
    ]
    blocked = sorted(hosts)[0]
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [(blocked, b"User-agent: *\nDisallow: /")],
        "host string, robots_txt binary",
    ).write.parquet(robots)

    out = str(tmp_path / "shards")
    rc = main([
        "pipeline", "--input", src, "--workdir", str(tmp_path / "wd"),
        "--output", out, "--robots", robots, "--respect-noindex",
        "--rules", "dedup,quality", "--chunk-words", "64",
        "--chunk-overlap", "8", "--n-shards", "2",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    gate = summary["stages"]["gate"]
    assert gate["pages_in"] == 40 and gate["pages_kept"] < 40
    # every url from the blocked host is gone from the shards
    kept_urls = {u for u, _, _ in _shards_content(spark, out)}
    assert kept_urls
    assert not any(u for u in kept_urls if blocked in u)
