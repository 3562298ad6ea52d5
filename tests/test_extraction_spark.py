"""End-to-end Spark tests: pages -> extract_pages -> byte-identical golden
join (the north-rule invariant), span fixtures, validation predicates,
metrics aggregations, and idempotent shard resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.extraction import (
    extract_pages,
    partition_metrics,
)
from document_ai_spark.operators.lineage import (
    done_shards,
    run_extraction_job,
)
from document_ai_spark.operators.metrics import (
    cause_confusion,
    extraction_accuracy,
)
from document_ai_spark.operators.validation import validate_extracted


@pytest.fixture(scope="module")
def extracted(spark, corpus_dir):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    return extract_pages(pages, num_partitions=4).cache()


def test_every_url_extracted_once(spark, corpus_dir, extracted):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    assert extracted.count() == pages.count()
    assert extracted.select("url").distinct().count() == pages.count()


def test_byte_identical_main_text(spark, corpus_dir, extracted):
    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    j = extracted.join(golden, "url")
    bad = j.filter(
        (
            F.col("expected_text").isNotNull()
            & (
                (F.col("main_text") != F.col("expected_text"))
                | ~F.col("parse_ok")
            )
        )
        | (F.col("expected_text").isNull() & F.col("parse_ok"))
    )
    rows = bad.select("url", "err").limit(5).collect()
    assert not rows, f"byte mismatch on {rows}"
    # UTF-8 BYTE identity, not just str equality
    nonnull = j.filter(F.col("expected_text").isNotNull())
    diff = nonnull.filter(
        F.encode("main_text", "UTF-8") != F.encode("expected_text", "UTF-8")
    ).count()
    assert diff == 0


def test_spans_match_golden(spark, corpus_dir, extracted):
    golden_spans = spark.read.parquet(
        os.path.join(corpus_dir, "golden_spans.parquet")
    )
    got = extracted.select(
        "url", F.explode_outer("spans").alias("s")
    ).filter(F.col("s").isNotNull()).select(
        "url",
        F.col("s.span_id").alias("span_id"),
        F.col("s.start").alias("start"),
        F.col("s.end").alias("end"),
        F.col("s.block_id").alias("block_id"),
        F.col("s.kind").alias("kind"),
    )
    assert got.count() == golden_spans.count()
    mismatched = got.join(
        golden_spans,
        ["url", "span_id", "start", "end", "block_id", "kind"],
        "left_anti",
    ).count()
    assert mismatched == 0


def test_validation_causes_match_truth(spark, corpus_dir, extracted):
    truth = spark.read.parquet(
        os.path.join(corpus_dir, "verdict_truth.parquet")
    )
    validated = validate_extracted(extracted)
    j = validated.select("url", "causes", "validated").join(
        truth.select(
            "url",
            F.col("causes").alias("true_causes"),
            F.col("validated").alias("true_validated"),
        ),
        "url",
    )
    bad = j.filter(
        (F.col("causes") != F.col("true_causes"))
        | (F.col("validated") != F.col("true_validated"))
    )
    rows = bad.limit(5).collect()
    assert not rows, f"cause mismatch: {rows}"


def test_confusion_matrix_perfect_predictor(spark, corpus_dir, extracted):
    truth = spark.read.parquet(
        os.path.join(corpus_dir, "verdict_truth.parquet")
    )
    pred = validate_extracted(extracted).select("url", "causes")
    cm = cause_confusion(pred, truth).collect()
    assert len(cm) == 5
    for r in cm:
        assert r.fp == 0 and r.fn == 0 and r.accuracy == 1.0


def test_extraction_accuracy_all_exact(spark, corpus_dir, extracted):
    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    row = extraction_accuracy(extracted, golden).collect()[0]
    assert row.content_accuracy == 1.0
    assert row.filling_accuracy == 1.0
    assert row.content_fuzzy_accuracy == 1.0
    assert row.n_docs == 200


def test_partition_metrics_totals(spark, extracted):
    m = partition_metrics(extracted, "run1")
    tot = m.agg(
        F.sum("docs").alias("d"), F.sum("parse_failures").alias("pf")
    ).collect()[0]
    assert tot.d == 200
    assert tot.pf == extracted.filter(~F.col("parse_ok")).count()


def test_sharded_job_resumes_idempotently(spark, corpus_dir, tmp_path):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "extracted")
    # first run: only commit the first chunk (simulate a crash by limiting)
    r1 = run_extraction_job(
        pages, out, n_shards=8, shards_per_commit=3, run_id="r1",
        num_partitions=4,
    )
    assert r1["chunks"] == 3
    done_before = done_shards(spark, out)
    assert done_before == set(range(8))
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first == 200
    # re-run: everything already done -> no new chunks, no dup rows
    r2 = run_extraction_job(
        pages, out, n_shards=8, shards_per_commit=3, run_id="r2",
        num_partitions=4,
    )
    assert r2["chunks"] == 0
    assert spark.read.parquet(out).count() == 200
    # partial lineage: drop 2 shards from lineage -> only those re-run
    lin_path = os.path.join(out, "_lineage")
    lin = spark.read.parquet(lin_path).filter(~F.col("shard_id").isin([0, 1]))
    lin_pd = lin.toPandas()
    import shutil

    shutil.rmtree(lin_path)
    spark.createDataFrame(lin_pd, schema=lin.schema).write.parquet(lin_path)
    r3 = run_extraction_job(
        pages, out, n_shards=8, shards_per_commit=8, run_id="r3",
        num_partitions=4,
    )
    assert r3["chunks"] == 1
    df = spark.read.parquet(out)
    assert df.count() == 200  # overwrite, not duplicate
    assert df.select("url").distinct().count() == 200


def test_relative_bare_output_dir(spark, corpus_dir):
    """`extract --output extracted` (a bare RELATIVE dir, no '/') must
    not be mistaken for an Iceberg table identifier: without a
    configured catalog the post-commit stats read the local files (the
    r5 lineage fast-path once routed every '/'-free name to
    spark.read.table and crashed the CLI after a successful write).

    No chdir here: the shared Spark JVM resolves relative paths against
    ITS working directory (fixed at session start), so a monkeypatched
    Python cwd would split the data and _lineage writes across two
    directories. The bare name runs in the common cwd and is removed."""
    import shutil
    import uuid as _uuid

    out = f"extracted_rel_{_uuid.uuid4().hex[:8]}"
    try:
        pages = spark.read.parquet(
            os.path.join(corpus_dir, "pages.parquet")
        ).limit(40)
        r = run_extraction_job(
            pages, out, n_shards=2, shards_per_commit=2,
            run_id="rel", num_partitions=2,
        )
        assert r["docs"] == 40 and r["chunks"] == 1
        assert os.path.isdir(os.path.join(out, "_lineage"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_crash_between_data_and_lineage_commit(spark, corpus_dir, tmp_path,
                                               monkeypatch):
    """Kill-mid-run semantics (FIXTURES.md resume test): crash AFTER a
    chunk's data commit but BEFORE its lineage append -> the rerun
    re-extracts only that chunk, overwriting in place; exactly one row per
    url at the end."""
    import document_ai_spark.operators.lineage as lineage_mod

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "crash_out")

    real_append = lineage_mod._append_lineage_rows
    calls = {"n": 0}

    def flaky_append(spark_, rows, schema, path):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash before lineage commit")
        real_append(spark_, rows, schema, path)

    monkeypatch.setattr(lineage_mod, "_append_lineage_rows", flaky_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_extraction_job(
            pages, out, n_shards=8, shards_per_commit=2, run_id="crash",
            num_partitions=4,
        )
    monkeypatch.setattr(lineage_mod, "_append_lineage_rows", real_append)

    # chunk 1 committed fully; chunk 2 data may exist but has no lineage
    assert done_shards(spark, out) == {0, 1}

    r = run_extraction_job(
        pages, out, n_shards=8, shards_per_commit=2, run_id="resume",
        num_partitions=4,
    )
    assert r["shards_done_prior"] == 2
    df = spark.read.parquet(out)
    assert df.count() == 200
    assert df.select("url").distinct().count() == 200


def test_compaction_stage_and_swap(spark, corpus_dir, tmp_path):
    """Small-file compaction: fragmented shard partitions rewritten into
    size-targeted files; rows, values, and lineage preserved."""
    from document_ai_spark.operators.compact import (
        compact_table,
        table_file_stats,
    )

    from document_ai_spark.sources.io import write_extracted

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "frag")
    run_extraction_job(pages, out, n_shards=8, shards_per_commit=8,
                       run_id="frag", num_partitions=4)
    # fragment: a second append per shard (streaming/incremental analog)
    extra = spark.read.parquet(out)
    write_extracted(extra, out, partition_cols=["shard_id"],
                    overwrite_partitions=False)
    before = table_file_stats(out)
    assert before["n_files"] >= 16  # >=2 files per shard
    pd_before = (
        spark.read.parquet(out).select("url", "main_text")
        .orderBy("url", "main_text").toPandas().reset_index(drop=True)
    )
    assert len(pd_before) == 400  # duplicated on purpose

    stats = compact_table(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert stats["after"]["n_files"] < before["n_files"]
    assert stats["rows"] == 400
    pd_after = (
        spark.read.parquet(out).select("url", "main_text")
        .orderBy("url", "main_text").toPandas().reset_index(drop=True)
    )
    assert pd_before.equals(pd_after)
    # lineage survived the swap
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    assert lin.count() >= 8


def test_grouped_accuracy_grouping_sets(spark, corpus_dir, extracted):
    """A2 grouping sets over extraction accuracy: one pass, overall row +
    per-dimension rows."""
    from document_ai_spark.operators.metrics import grouped_accuracy

    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    ).withColumn("bucket", F.col("expected_parse_ok").cast("string"))
    res = grouped_accuracy(extracted, golden, ["bucket", "parse_ok"])
    rows = res.collect()
    overall = [r for r in rows if r.bucket is None and r.parse_ok is None]
    assert len(overall) == 1 and overall[0].n_docs == 200
    assert overall[0].content_accuracy == 1.0
    assert {r.bucket for r in rows if r.bucket is not None} == {
        "true", "false"
    }


def test_salting_balances_adversarial_order(spark):
    """All giant pages clustered at the head of the input (worst case for
    split-based balance): after the salted repartition, per-partition html
    bytes stay near-uniform."""
    from document_ai_spark.datagen import gen_rows

    rows = sorted(
        gen_rows(400, seed=11), key=lambda r: -len(r.html)
    )  # giants first — adversarial clustering
    pages = spark.createDataFrame(
        [(r.url, r.warc_ts, r.html) for r in rows],
        "url string, warc_ts timestamp, html binary",
    ).coalesce(2)  # giants concentrated in partition 0
    salted = extract_pages(pages, num_partitions=16)
    giant_cut = 20000  # giants are ~36KB vs ~3KB median
    per_part = (
        salted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.sum("html_bytes").alias("b"),
            F.sum(F.when(F.col("html_bytes") > giant_cut, 1).otherwise(0))
            .alias("giants"),
        )
        .collect()
    )
    total_giants = sum(r.giants for r in per_part)
    assert total_giants == 20
    # no partition inherits the adversarial giant cluster
    assert max(r.giants for r in per_part) <= 0.4 * total_giants, per_part
    sizes = [r.b for r in per_part]
    assert max(sizes) / (sum(sizes) / len(sizes)) < 4.0, sizes


def test_error_rows_harness(spark):
    from document_ai_spark.operators.metrics import error_rows

    pred = spark.createDataFrame(
        [("u1", ["parse_failed"]), ("u2", []), ("u3", ["empty_main_text"])],
        "url string, causes array<string>",
    )
    truth = spark.createDataFrame(
        [("u1", []), ("u2", ["low_density"]), ("u3", ["empty_main_text"])],
        "url string, causes array<string>",
    )
    got = {(r.url, r.cause): r.kind for r in error_rows(pred, truth).collect()}
    assert got == {
        ("u1", "parse_failed"): "false_positive",
        ("u2", "low_density"): "false_negative",
    }


def test_validate_cli_exit_code_on_mismatch(spark, corpus_dir, tmp_path):
    """Negative path: corrupted goldens -> validate exits 3."""
    from document_ai_spark.__main__ import main as cli_main

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "x")
    extract_pages(pages, num_partitions=4).withColumn(
        "shard_id", F.lit(0)
    ).write.partitionBy("shard_id").parquet(out)
    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    bad = golden.withColumn(
        "expected_text",
        F.when(F.col("expected_text").isNotNull(),
               F.concat(F.col("expected_text"), F.lit("CORRUPT"))),
    )
    bad_path = str(tmp_path / "bad_golden")
    bad.write.parquet(bad_path)
    rc = cli_main(
        ["validate", "--extracted", out, "--golden", bad_path]
    )
    assert rc == 3
    rc_ok = cli_main(
        ["validate", "--extracted", out, "--golden",
         os.path.join(corpus_dir, "golden_text.parquet")]
    )
    assert rc_ok == 0


def test_compaction_crash_before_swap_keeps_lineage(spark, corpus_dir,
                                                    tmp_path):
    """Crash window: stage fully written (lineage already copied in) but the
    table->bak rename never happened. The next compact run rmtree's the
    leftover stage — the table, lineage included, must be intact."""
    import shutil

    from document_ai_spark.operators.compact import compact_table

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "crashy")
    run_extraction_job(pages, out, n_shards=4, shards_per_commit=4,
                       run_id="crashy", num_partitions=4)
    lin_dir = os.path.join(out, "_lineage")
    lin_before = spark.read.parquet(lin_dir).count()
    assert lin_before >= 4
    # simulate the crash: a stale stage holding a lineage copy
    stage = out + "._compact_stage"
    os.makedirs(stage)
    shutil.copytree(lin_dir, os.path.join(stage, "_lineage"))
    stats = compact_table(spark, out)
    assert stats["rows"] == spark.read.parquet(out).count()
    assert spark.read.parquet(lin_dir).count() == lin_before


def test_lineage_mixed_writers_resume(spark, corpus_dir, tmp_path):
    """Upgrade path: a table whose lineage was written by the old
    Spark-job writer (INT96 parquet timestamps) must still resume
    correctly when the new driver-side pyarrow writer appends to the same
    directory — done_shards and the latest-row max_by must read the mix."""
    import datetime

    from pyspark.sql import functions as F

    from document_ai_spark.operators.lineage import (
        _lineage_path,
        done_shards,
    )
    from document_ai_spark.sources.io import append_rows

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    out = str(tmp_path / "mixed")
    # legacy-style lineage rows written through a Spark job
    legacy = spark.createDataFrame(
        [("old", 0, 10, 1000, 0,
          datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 1),
          "done")],
        "run_id string, shard_id int, docs long, bytes long, "
        "parse_failures long, started_ts timestamp, finished_ts timestamp, "
        "status string",
    )
    os.makedirs(out)
    append_rows(legacy, _lineage_path(out))
    assert done_shards(spark, out) == {0}

    # the new job (pyarrow lineage writer) resumes past the legacy shard
    r = run_extraction_job(pages, out, n_shards=4, shards_per_commit=4,
                           run_id="new", num_partitions=4)
    assert r["shards_done_prior"] == 1
    lin = spark.read.parquet(_lineage_path(out))
    assert lin.count() == 4  # 1 legacy + 3 new shards
    # max_by over the mixed files resolves (the __main__ totals path)
    latest = lin.groupBy("shard_id").agg(
        F.max_by(F.struct("docs"), F.col("finished_ts")).alias("s")
    )
    assert latest.count() == 4
    assert done_shards(spark, out) == {0, 1, 2, 3}


def test_done_shards_reads_no_missing_local_lineage(spark, tmp_path,
                                                    monkeypatch):
    """A fresh local output has no lineage dir: done_shards answers from
    the filesystem, without a Spark read that would raise and log a
    FileNotFoundException stack trace on every fresh run. The spy counts
    calls instead of raising, because done_shards' own `except
    Exception` would swallow a raise."""
    from pyspark.sql.readwriter import DataFrameReader

    from document_ai_spark.operators.lineage import _lineage_path

    real = DataFrameReader.parquet
    calls = []

    def spy(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert done_shards(spark, str(tmp_path / "fresh")) == set()
    assert calls == []
    # control: an existing (here empty) lineage dir still goes to Spark
    old = str(tmp_path / "old")
    os.makedirs(_lineage_path(old))
    assert done_shards(spark, old) == set()
    assert calls == [(_lineage_path(old),)]
