"""Small-file compaction for the extracted table (Iceberg
`rewrite_data_files` analog for the parquet fallback).

A 10^12-document table accumulates small files from incremental/streaming
appends and fine-grained shard commits; scan efficiency degrades with file
count. Spark cannot read and overwrite the same path in one job (the lazy
scan would consume its own half-written output), so compaction is
stage-and-swap:

  1. rewrite into `<table>._compact_stage` with size-targeted partitions,
  2. verify the staged row count (from parquet footers) matches the
     source's,
  3. swap directories (old table kept at `<table>._compact_bak` until the
     swap completes, then removed; `_lineage` is carried over untouched).

A crash before the swap leaves the original table intact; a crash between
the two renames leaves `_compact_bak` for manual (or next-run) recovery —
never a mixed or lost table. With an Iceberg catalog this whole module is
replaced by `rewrite_data_files` snapshots.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from ..sources.io import parquet_data_files, parquet_rows
from .lineage import LINEAGE_SUBDIR

TARGET_FILE_BYTES = 128 * 1024 * 1024


def table_file_stats(table_dir: str) -> dict:
    """(n_files, total_bytes) of the data files under a parquet table dir
    (the files the Spark reader reads: `_lineage` is not among them)."""
    files = parquet_data_files(table_dir)
    return {
        "n_files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Rewrite the shard-partitioned extracted table into size-targeted
    files. Returns before/after stats."""
    table_dir = table_dir.rstrip("/")
    stage = table_dir + "._compact_stage"
    bak = table_dir + "._compact_bak"
    if os.path.exists(bak):  # recover an interrupted prior swap
        if not os.path.exists(table_dir):
            os.rename(bak, table_dir)
        else:
            shutil.rmtree(bak)
    shutil.rmtree(stage, ignore_errors=True)

    before = table_file_stats(table_dir)
    # both row counts come from parquet footers: no Spark scan
    n_rows = parquet_rows(table_dir)
    n_files = max(1, before["bytes"] // target_file_bytes + 1)
    (
        spark.read.parquet(table_dir)
        .repartition(int(n_files), "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(stage)
    )
    staged_rows = parquet_rows(stage)
    if staged_rows != n_rows:
        shutil.rmtree(stage)
        raise RuntimeError(
            f"compaction row mismatch: {staged_rows} != {n_rows}; aborted"
        )
    # COPY (not move) lineage into stage: a crash between this point and the
    # stage->table rename must leave the original table, lineage included,
    # untouched — the recovery path above rmtree's a leftover stage dir, so
    # stage must never hold the only copy of anything.
    lin_src = os.path.join(table_dir, LINEAGE_SUBDIR)
    if os.path.exists(lin_src):
        shutil.copytree(lin_src, os.path.join(stage, LINEAGE_SUBDIR))
    os.rename(table_dir, bak)
    os.rename(stage, table_dir)
    shutil.rmtree(bak)
    after = table_file_stats(table_dir)
    return {
        "before": before,
        "after": after,
        "rows": n_rows,
        "target_files": int(n_files),
    }
