"""One-command Common-Crawl pipeline (the corpus-scale analog of the
reference's end-to-end main.py:11-66):

  warc/table source -> policy gate (robots.txt allow + per-row noindex)
  -> extraction kernel -> curation funnel -> training-window chunking
  -> gzip JSONL shards

Storage note for corpus scale: the gate stage (and the WARC parse
stage) materialize a full (url, warc_ts, html) copy under the workdir —
that is the price of stage-granular resume over the raw-payload stages.
A storage-constrained deployment pre-gates its page table (the gate
operators compose freely) and feeds the pipeline `input_format=table`,
skipping both copies; everything from `extracted` on carries text, not
raw html.

Every stage runs through one runner, `stage` in run_pipeline: it
writes its result under `workdir/<stage>` and is SKIPPED on re-run when
its commit marker (`_SUCCESS`) is present — so a crash anywhere resumes
at the failed stage. Two stages pass their own skip rule: extract
always runs and resumes at shard granularity through its own lineage
table (operators/lineage.py), and compact keeps its `_compact_done`
marker while no shard was re-extracted. bpe writes nothing, so it is
keyed on the chunk stage's directory. A stage that crashed mid-write
left no marker (Spark's committer and the staged two-phase writer both
publish `_SUCCESS` last), so the rerun simply overwrites its partial
output.
Resume assumes the same input and parameters; point `--workdir`
somewhere fresh when they change.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _sub(workdir: str, name: str) -> str:
    return os.path.join(workdir, name)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    workdir: str,
    output: str,
    input_format: str = "table",
    robots_path: str | None = None,
    respect_noindex: bool = False,
    user_agent: str = "*",
    rules: tuple[str, ...] = ("dedup", "quality", "gopher"),
    chunk_words: int = 512,
    chunk_overlap: int = 64,
    n_shards: int = 16,
    shards_per_commit: int = 4,
    run_id: str | None = None,
    compact_mb: int | None = None,
    pack_words: int | None = None,
    baseline_pages: str | None = None,
    excise: bool = False,
    chunk_unit: str = "words",
) -> dict:
    """Run (or resume) the full pipeline. Returns a per-stage summary.

    `excise=True` inserts an exact-substring-removal stage between
    curate and chunk: passages shared verbatim across kept documents
    are cut from every non-keeper doc (operators/passages, at the
    corpus thresholds PASSAGE_MIN_SHARED/PASSAGE_MAX_DF); NOTE the
    surviving text is the frozen winnowing NORMALIZATION
    (lowercased, whitespace-collapsed) of main_text — the space the
    spans are defined in. `chunk_unit='subwords'` learns a
    deterministic BPE merge table from the curated corpus
    (functions/subword, bounded fit) and budgets chunking — and, with
    `pack_words`, packing — in subword tokens instead of whitespace
    words (overlap must be 0)."""
    # stage functions are read off their modules when a stage runs, so
    # wrappers set on those modules (perfbench's traced mode) take effect
    from .operators import chunking, curate, lineage
    from .operators.pageflags import indexable_pages
    from .session import session_report
    from .sources import jsonl
    from .sources.io import parquet_rows

    if chunk_unit == "subwords" and chunk_overlap != 0:
        raise ValueError(
            "chunk_unit='subwords' requires chunk_overlap=0 "
            "(stream-cut budgets cannot re-serve trailing words)"
        )

    os.makedirs(workdir, exist_ok=True)
    summary: dict = {"stages": {}}
    stages = summary["stages"]
    t_start = time.time()

    def stage(name: str, out_dir: str, run, skip=None) -> None:
        """The one resume rule: skip when `skip` holds (by default when
        `out_dir` is committed), otherwise run the stage into `out_dir`
        and record its stats and wall time — per-stage wall keeps a
        regression in any stage's composition visible in the tracked
        bench numbers."""
        if skip is None:
            skip = _committed(out_dir)
        if skip:
            stages[name] = {"skipped": True}
            return
        t0 = time.time()
        stats = run(out_dir)
        stages[name] = {
            "skipped": False, **stats,
            "wall_sec": round(time.time() - t0, 2),
        }

    # ---- 1. source: WARC archives parse once to a pages table ----
    if input_format == "warc":
        from .sources.warc import stage_warc_pages

        pages_path = _sub(workdir, "pages")
        stage("pages", pages_path, lambda d: {
            "archives": stage_warc_pages(spark, input_path, d),
        })
    else:
        pages_path = input_path
        stages["pages"] = {"skipped": True, "source": "table"}

    # ---- 1b. optional incremental mode: keep only pages whose raw
    # html is new or changed vs a previous crawl's pages table — the
    # added+changed slice is all that is worth re-extracting. Removed
    # urls stay in the previous outputs (append semantics); pruning
    # them is the caller's retention policy.
    if baseline_pages:
        def run_incremental(d: str) -> dict:
            from pyspark.sql import functions as F

            from .operators.crawldiff import crawl_diff

            old = spark.read.parquet(baseline_pages)
            cur = spark.read.parquet(pages_path)
            # ONE diff pass (url + two hashes per row — tiny next to the
            # html payloads it hashed), then both consumers read the
            # materialized frame: re-deriving it for the counts would
            # re-hash every raw page on both sides
            diff = crawl_diff(
                old, cur, id_col="url", content_col="html"
            ).localCheckpoint(eager=True)
            keys = diff.filter(
                F.col("status").isin("added", "changed")
            ).select("url")
            cur.join(keys, "url", "left_semi").write.mode(
                "overwrite"
            ).parquet(d)
            return {
                r.status: r.n
                for r in diff.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        inc_dir = _sub(workdir, "incremental")
        stage("incremental", inc_dir, run_incremental)
        pages_path = inc_dir

    # ---- 2. policy gate: robots allow + per-row noindex ----
    if robots_path or respect_noindex:
        def run_gate(d: str) -> dict:
            pages = spark.read.parquet(pages_path)
            if robots_path:
                from .functions.robots import allowed_pages

                robots = spark.read.parquet(robots_path)
                pages = allowed_pages(pages, robots, user_agent)
            if respect_noindex:
                pages = indexable_pages(pages)
            pages.write.mode("overwrite").parquet(d)
            # counts from footers: no re-scan of the (raw html) input
            return {
                "pages_in": parquet_rows(pages_path),
                "pages_kept": parquet_rows(d),
            }

        gated_path = _sub(workdir, "gated")
        stage("gate", gated_path, run_gate)
    else:
        gated_path = pages_path
        stages["gate"] = {"skipped": True, "gates": "none"}

    # ---- 3. extract (shard-lineage resumable on its own) ----
    extracted_dir = _sub(workdir, "extracted")
    stage("extract", extracted_dir, lambda d: lineage.run_extraction_job(
        spark.read.parquet(gated_path), d,
        n_shards=n_shards,
        shards_per_commit=shards_per_commit,
        run_id=run_id,
    ), skip=False)

    # ---- 3b. optional compaction of the extracted table (the
    # small-file problem: fine-grained shard commits fragment a table
    # that every downstream stage scans); its marker holds while no
    # shard was re-extracted ----
    if compact_mb:
        from .operators.compact import compact_table

        marker = os.path.join(workdir, "_compact_done")

        def run_compact(d: str) -> dict:
            stats = compact_table(
                spark, d, target_file_bytes=compact_mb * 1024 * 1024
            )
            with open(marker, "w") as f:
                f.write("")
            return stats

        stage("compact", extracted_dir, run_compact,
              skip=stages["extract"]["chunks"] == 0
              and os.path.exists(marker))

    # ---- 4. curate: recrawl collapse -> rule flags -> kept docs ----
    # (collapse materialized once to workdir/collapsed when the input
    # has recrawls; counts from parquet footers — operators/curate)
    curated_dir = _sub(workdir, "curated")
    stage("curate", curated_dir, lambda d: curate.curate_table(
        spark, extracted_dir, d, rules, _sub(workdir, "collapsed"),
    )[0])

    # ---- 4b. optional exact-substring removal: passages shared
    # verbatim across kept docs are cut from every non-keeper (the
    # Lee-et-al ExactSubstr step; detection alone is not dedup) ----
    text_src = curated_dir
    if excise:
        def run_excise(d: str) -> dict:
            from pyspark.sql import functions as F

            from .operators.passages import (
                PASSAGE_MAX_DF,
                PASSAGE_MIN_SHARED,
                excise_shared_passages,
            )

            curated = spark.read.parquet(curated_dir)
            clean = excise_shared_passages(
                curated, id_col="url", text_col="main_text",
                min_shared=PASSAGE_MIN_SHARED,
                max_doc_freq=PASSAGE_MAX_DF,
            )
            (
                curated.drop("main_text")
                .join(clean, "url")
                .withColumnRenamed("clean_text", "main_text")
                .write.mode("overwrite").parquet(d)
            )
            agg = spark.read.parquet(d).filter(
                F.col("n_spans") > 0
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("chars_removed").alias("ch"),
            ).first()
            return {
                "docs_excised": agg["n"],
                "chars_removed": int(agg["ch"] or 0),
            }

        text_src = _sub(workdir, "excised")
        stage("excise", text_src, run_excise)

    # ---- 4c. optional subword budgets: learn the deterministic BPE
    # merge table from the kept corpus (bounded fit, driver loop).
    # `merges` is consumed ONLY by the chunk stage (packing budgets in
    # the already-materialized chunk_subwords column), so a resume with
    # the chunk stage committed skips the full corpus scan the fit
    # costs ----
    merges = None
    chunks_dir = _sub(workdir, "chunks")
    if chunk_unit == "subwords":
        def run_bpe(_chunks_dir: str) -> dict:
            nonlocal merges
            from .functions.subword import learn_bpe

            merges = learn_bpe(
                spark.read.parquet(text_src), text_col="main_text"
            )
            return {"n_merges": len(merges)}

        # keyed on the chunk stage's commit: bpe writes nothing of its own
        stage("bpe", chunks_dir, run_bpe)

    # ---- 5. chunk: training windows over the kept text ----
    def run_chunk(d: str) -> dict:
        # warc_ts rides through the chunker in-plan (r5): the join-back
        # this replaces re-scanned the curated table and shuffled a
        # chunks<->docs equi-join just to recover one per-doc column
        chunking.chunk_documents(
            spark.read.parquet(text_src), id_col="url",
            text_col="main_text",
            max_words=chunk_words, overlap=chunk_overlap,
            unit=chunk_unit, merges=merges,
            passthrough_cols=("warc_ts",),
        ).write.mode("overwrite").parquet(d)
        return {"chunks": parquet_rows(d)}

    stage("chunk", chunks_dir, run_chunk)

    # ---- 5b. optional sequence packing (concat-and-chunk: short
    # chunks share fixed word budgets so training context isn't
    # wasted) ----
    export_src = chunks_dir
    meta_cols = ("chunk_no", "n_chunks", "chunk_words") + (
        ("chunk_subwords",) if chunk_unit == "subwords" else ()
    ) + (
        ("pack_group", "pack_no", "pack_seq") if pack_words else ()
    )
    if pack_words:
        def run_pack(d: str) -> dict:
            chunking.pack_sequences(
                spark.read.parquet(chunks_dir),
                pack_words=pack_words, id_col="url",
                # subword mode packs in the loader-true unit too
                words_col="chunk_subwords"
                if chunk_unit == "subwords" else "chunk_words",
            ).write.mode("overwrite").parquet(d)
            # distinct pack identities cannot come from footers; the
            # scan below is column-pruned to two int columns of the
            # just-written table (not a re-run of the packing windows)
            return {"packs": spark.read.parquet(d)
                    .select("pack_group", "pack_no").distinct().count()}

        export_src = _sub(workdir, "packs")
        stage("pack", export_src, run_pack)

    # ---- 6. export: gzip JSONL training shards ----
    stage("export", output, lambda d: jsonl.write_jsonl(
        spark.read.parquet(export_src), d,
        text_col="chunk_text", meta_cols=meta_cols,
    ))
    summary["output"] = output
    summary["wall_sec"] = round(time.time() - t_start, 2)
    summary["session"] = session_report(spark)
    return summary
