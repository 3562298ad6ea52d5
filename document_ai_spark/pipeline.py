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

Each stage writes its result under `workdir/<stage>` and is SKIPPED on
re-run when its commit marker (`_SUCCESS`) is present — so a crash
anywhere resumes at the failed stage, and the extract stage additionally
resumes at shard granularity through its own lineage table
(operators/lineage.py). A stage that crashed mid-write left no marker
(Spark's committer and the staged two-phase writer both publish
`_SUCCESS` last), so the rerun simply overwrites its partial output.
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
    excise_min_shared: int = 8,
    excise_max_df: int = 20,
    chunk_unit: str = "words",
) -> dict:
    """Run (or resume) the full pipeline. Returns a per-stage summary.

    `excise=True` inserts an exact-substring-removal stage between
    curate and chunk: passages shared verbatim across kept documents
    are cut from every non-keeper doc (operators/passages); NOTE the
    surviving text is the frozen winnowing NORMALIZATION
    (lowercased, whitespace-collapsed) of main_text — the space the
    spans are defined in. `excise_min_shared`/`excise_max_df` default
    to the proven corpus constants (8 shared fingerprints to pair, df
    cap 20) — the operator's own looser defaults pair nearly
    everything on a shared-vocabulary corpus via common-phrase
    fingerprints (the r4 suite lesson). `chunk_unit='subwords'` learns a
    deterministic BPE merge table from the curated corpus
    (functions/subword, bounded fit) and budgets chunking — and, with
    `pack_words`, packing — in subword tokens instead of whitespace
    words (overlap must be 0)."""
    from .operators.chunking import chunk_documents
    from .operators.curate import curate_table
    from .operators.lineage import run_extraction_job
    from .operators.pageflags import indexable_pages
    from .sources.io import parquet_rows
    from .sources.jsonl import write_jsonl

    if chunk_unit == "subwords" and chunk_overlap != 0:
        raise ValueError(
            "chunk_unit='subwords' requires chunk_overlap=0 "
            "(stream-cut budgets cannot re-serve trailing words)"
        )
    from .session import cds_state

    os.makedirs(workdir, exist_ok=True)
    summary: dict = {"stages": {}, "session": {"cds": cds_state(spark)}}
    t_start = time.time()

    def _timed(stage: str, t0: float) -> None:
        # per-stage wall (r5): the composed verb is the product path, so
        # a regression in any stage's composition must show up in the
        # tracked bench numbers, not just in per-operator times
        summary["stages"][stage]["wall_sec"] = round(time.time() - t0, 2)

    # ---- 1. source: WARC archives parse once to a pages table ----
    if input_format == "warc":
        pages_dir = _sub(workdir, "pages")
        if _committed(pages_dir):
            summary["stages"]["pages"] = {"skipped": True}
        else:
            t0 = time.time()
            import glob as _glob

            from .sources.warc import warc_pages

            paths: list[str] = []
            for pat in input_path.split(","):
                paths.extend(sorted(_glob.glob(pat)) or [pat])
            warc_pages(spark, paths).write.mode("overwrite").parquet(
                pages_dir
            )
            summary["stages"]["pages"] = {"skipped": False,
                                          "archives": len(paths)}
            _timed("pages", t0)
        pages_path = pages_dir
    else:
        pages_path = input_path
        summary["stages"]["pages"] = {"skipped": True, "source": "table"}

    # ---- 1b. optional incremental mode: keep only pages whose raw
    # html is new or changed vs a previous crawl's pages table — the
    # added+changed slice is all that is worth re-extracting. Removed
    # urls stay in the previous outputs (append semantics); pruning
    # them is the caller's retention policy.
    if baseline_pages:
        from pyspark.sql import functions as F

        from .operators.crawldiff import crawl_diff

        inc_dir = _sub(workdir, "incremental")
        if _committed(inc_dir):
            summary["stages"]["incremental"] = {"skipped": True}
        else:
            t0 = time.time()
            old = spark.read.parquet(baseline_pages)
            cur = spark.read.parquet(pages_path)
            # ONE diff pass (url + two hashes per row — tiny next to the
            # html payloads it hashed), then both consumers read the
            # materialized frame: re-deriving it for the counts would
            # re-hash every raw page on both sides
            d = crawl_diff(
                old, cur, id_col="url", content_col="html"
            ).localCheckpoint(eager=True)
            keys = d.filter(
                F.col("status").isin("added", "changed")
            ).select("url")
            cur.join(keys, "url", "left_semi").write.mode(
                "overwrite"
            ).parquet(inc_dir)
            counts = {
                r.status: r.n
                for r in d.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            summary["stages"]["incremental"] = {
                "skipped": False, **counts,
            }
            _timed("incremental", t0)
        pages_path = inc_dir

    # ---- 2. policy gate: robots allow + per-row noindex ----
    gated_path = pages_path
    if robots_path or respect_noindex:
        gate_dir = _sub(workdir, "gated")
        if _committed(gate_dir):
            summary["stages"]["gate"] = {"skipped": True}
        else:
            t0 = time.time()
            pages = spark.read.parquet(pages_path)
            if robots_path:
                from .functions.robots import allowed_pages

                robots = spark.read.parquet(robots_path)
                pages = allowed_pages(pages, robots, user_agent)
            if respect_noindex:
                pages = indexable_pages(pages)
            pages.write.mode("overwrite").parquet(gate_dir)
            # counts from footers: no re-scan of the (raw html) input
            summary["stages"]["gate"] = {
                "skipped": False,
                "pages_in": parquet_rows(pages_path),
                "pages_kept": parquet_rows(gate_dir),
            }
            _timed("gate", t0)
        gated_path = gate_dir
    else:
        summary["stages"]["gate"] = {"skipped": True, "gates": "none"}

    # ---- 3. extract (shard-lineage resumable on its own) ----
    extracted_dir = _sub(workdir, "extracted")
    t0 = time.time()
    ex = run_extraction_job(
        spark.read.parquet(gated_path),
        extracted_dir,
        n_shards=n_shards,
        shards_per_commit=shards_per_commit,
        run_id=run_id,
    )
    summary["stages"]["extract"] = ex
    _timed("extract", t0)

    # ---- 3b. optional compaction of the extracted table (the
    # small-file problem: fine-grained shard commits fragment a table
    # that every downstream stage scans) ----
    if compact_mb:
        from .operators.compact import compact_table

        marker = os.path.join(workdir, "_compact_done")
        if ex["chunks"] == 0 and os.path.exists(marker):
            summary["stages"]["compact"] = {"skipped": True}
        else:
            t0 = time.time()
            stats = compact_table(
                spark, extracted_dir,
                target_file_bytes=compact_mb * 1024 * 1024,
            )
            with open(marker, "w") as f:
                f.write("")
            summary["stages"]["compact"] = {"skipped": False, **stats}
            _timed("compact", t0)

    # ---- 4. curate: recrawl collapse -> rule flags -> kept docs ----
    curated_dir = _sub(workdir, "curated")
    if _committed(curated_dir):
        summary["stages"]["curate"] = {"skipped": True}
    else:
        t0 = time.time()
        # recrawl collapse (materialized once to workdir/collapsed when
        # the input has recrawls), the selected rules, the kept-row
        # write; counts from parquet footers (operators/curate)
        stats, _flags = curate_table(
            spark, extracted_dir, curated_dir, rules,
            collapse_dir=_sub(workdir, "collapsed"),
        )
        summary["stages"]["curate"] = {"skipped": False, **stats}
        _timed("curate", t0)

    # ---- 4b. optional exact-substring removal: passages shared
    # verbatim across kept docs are cut from every non-keeper (the
    # Lee-et-al ExactSubstr step; detection alone is not dedup) ----
    text_src = curated_dir
    if excise:
        from pyspark.sql import functions as F

        from .operators.passages import excise_shared_passages

        excised_dir = _sub(workdir, "excised")
        if _committed(excised_dir):
            summary["stages"]["excise"] = {"skipped": True}
        else:
            t0 = time.time()
            curated = spark.read.parquet(curated_dir)
            clean = excise_shared_passages(
                curated, id_col="url", text_col="main_text",
                min_shared=excise_min_shared,
                max_doc_freq=excise_max_df,
            )
            (
                curated.drop("main_text")
                .join(clean, "url")
                .withColumnRenamed("clean_text", "main_text")
                .write.mode("overwrite").parquet(excised_dir)
            )
            victims = spark.read.parquet(excised_dir).filter(
                F.col("n_spans") > 0
            )
            agg = victims.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("chars_removed").alias("ch"),
            ).first()
            summary["stages"]["excise"] = {
                "skipped": False,
                "docs_excised": agg["n"],
                "chars_removed": int(agg["ch"] or 0),
            }
            _timed("excise", t0)
        text_src = excised_dir

    # ---- 4c. optional subword budgets: learn the deterministic BPE
    # merge table from the kept corpus (bounded fit, driver loop).
    # `merges` is consumed ONLY by the chunk stage (packing budgets in
    # the already-materialized chunk_subwords column), so a resume with
    # the chunk stage committed skips the full corpus scan the fit
    # costs ----
    merges = None
    chunks_dir = _sub(workdir, "chunks")
    if chunk_unit == "subwords":
        if _committed(chunks_dir):
            summary["stages"]["bpe"] = {"skipped": True}
        else:
            from .functions.subword import learn_bpe

            merges = learn_bpe(
                spark.read.parquet(text_src), text_col="main_text"
            )
            summary["stages"]["bpe"] = {"n_merges": len(merges)}

    # ---- 5. chunk: training windows over the kept text ----
    if _committed(chunks_dir):
        summary["stages"]["chunk"] = {"skipped": True}
    else:
        t0 = time.time()
        curated = spark.read.parquet(text_src)
        # warc_ts rides through the chunker in-plan (r5): the join-back
        # this replaces re-scanned the curated table and shuffled a
        # chunks<->docs equi-join just to recover one per-doc column
        chunks = chunk_documents(
            curated, id_col="url", text_col="main_text",
            max_words=chunk_words, overlap=chunk_overlap,
            unit=chunk_unit, merges=merges,
            passthrough_cols=("warc_ts",),
        )
        chunks.write.mode("overwrite").parquet(chunks_dir)
        summary["stages"]["chunk"] = {
            "skipped": False,
            "chunks": parquet_rows(chunks_dir),
        }
        _timed("chunk", t0)

    # ---- 5b. optional sequence packing (concat-and-chunk: short
    # chunks share fixed word budgets so training context isn't
    # wasted) ----
    export_src = chunks_dir
    meta_cols = ("chunk_no", "n_chunks", "chunk_words")
    if chunk_unit == "subwords":
        meta_cols += ("chunk_subwords",)
    if pack_words:
        from .operators.chunking import pack_sequences

        packs_dir = _sub(workdir, "packs")
        if _committed(packs_dir):
            summary["stages"]["pack"] = {"skipped": True}
        else:
            t0 = time.time()
            packed = pack_sequences(
                spark.read.parquet(chunks_dir),
                pack_words=pack_words, id_col="url",
                # subword mode packs in the loader-true unit too
                words_col="chunk_subwords"
                if chunk_unit == "subwords" else "chunk_words",
            )
            packed.write.mode("overwrite").parquet(packs_dir)
            # distinct pack identities cannot come from footers; the
            # scan below is column-pruned to two int columns of the
            # just-written table (not a re-run of the packing windows)
            n_packs = (
                spark.read.parquet(packs_dir)
                .select("pack_group", "pack_no").distinct().count()
            )
            summary["stages"]["pack"] = {
                "skipped": False, "packs": n_packs,
            }
            _timed("pack", t0)
        export_src = packs_dir
        meta_cols = (
            "chunk_no", "n_chunks", "chunk_words",
        ) + (
            ("chunk_subwords",) if chunk_unit == "subwords" else ()
        ) + (
            "pack_group", "pack_no", "pack_seq",
        )

    # ---- 6. export: gzip JSONL training shards ----
    if _committed(output):
        summary["stages"]["export"] = {"skipped": True}
    else:
        t0 = time.time()
        stats = write_jsonl(
            spark.read.parquet(export_src),
            output,
            text_col="chunk_text",
            meta_cols=meta_cols,
        )
        summary["stages"]["export"] = {"skipped": False, **stats}
        _timed("export", t0)
    summary["output"] = output
    summary["wall_sec"] = round(time.time() - t_start, 2)
    return summary
