"""Sharded, resumable extraction job with per-shard lineage (S12/U2/F8).

Reference analog: the block cache consulted before recompute
(/root/reference/ai_documents/analysis/entities.py:62-82,208-235) and the
exclusion list (/root/reference/performances.py:232-237). At 10^12-document
scale that becomes:

  shard_id = pmod(xxhash64(url), n_shards)      -- deterministic, uniform
  done     = lineage rows with status='done'
  todo     = all shards - done                   -- set difference (U2)
  for each chunk of todo shards:
      extract -> dynamic-partition-overwrite shard dirs (idempotent)
      append lineage rows (docs, bytes, parse_failures, timestamps)

Lineage counts come from the committed files themselves (driver-direct
pyarrow over the two narrow metric columns on local FS; a
Catalyst-pruned Spark read-back elsewhere — see _chunk_shard_stats).
A shard that maps zero input rows still gets a status='done' row
(docs=0), so resume never re-runs a legitimately empty shard.

Crash between the data commit and the lineage commit only causes that chunk
to be re-extracted and overwritten in place — never duplicated, never
dropped. This is the parquet stand-in for Iceberg overwrite-by-filter; with
an Iceberg catalog the same code path commits snapshots instead.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from ..sources.io import append_rows, write_extracted
from .extraction import capped_scan_splits, extract_pages

LINEAGE_SUBDIR = "_lineage"

# must match the parquet layout of existing _lineage dirs (shard_id is
# int32 there — appending int64 rows would fork the dir's schema)
LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("shard_id", T.IntegerType()),
    T.StructField("docs", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("parse_failures", T.LongType()),
    T.StructField("started_ts", T.TimestampType()),
    T.StructField("finished_ts", T.TimestampType()),
    T.StructField("status", T.StringType()),
])


def _lineage_path(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/{LINEAGE_SUBDIR}"


def done_shards(spark: SparkSession, out_dir: str) -> set[int]:
    path = _lineage_path(out_dir)
    # _append_lineage_rows writes a local path from the driver, so a
    # missing dir here is a fresh output: asking Spark to read it raises
    # (and logs a stack trace) only to land in the except below
    if _local_fs_path(path) and not os.path.isdir(path):
        return set()
    try:
        lin = spark.read.parquet(path)
    except Exception:
        return set()
    rows = (
        lin.filter(F.col("status") == "done")
        .select("shard_id")
        .distinct()
        .collect()
    )
    return {r.shard_id for r in rows}


def _local_fs_path(path: str) -> bool:
    """True when `path` is a plain local-filesystem directory path the
    driver can touch directly with pyarrow/os: it contains a '/' (an
    Iceberg table identifier does not) and carries no scheme (hdfs://,
    s3a://, ... go through Spark). ONE definition shared by every
    driver-direct fast path in this module — two hand-copied negations
    of this predicate would eventually diverge."""
    from urllib.parse import urlparse

    return "/" in path and urlparse(path).scheme == ""


def _append_lineage_rows(spark, rows, schema, path: str) -> None:
    """Append a handful of lineage rows. Parquet layout: one uniquely-named
    file written directly from the driver (atomic visibility via the same
    write-then-visible file semantics the FileOutputCommitter gives) — a
    full Spark job for <=shards_per_commit rows costs ~2 s of scheduler
    overhead per commit for no benefit. Iceberg targets (no '/') and remote
    filesystem URIs (hdfs://, s3a://, ...) go through the Spark writer —
    the driver-direct pyarrow fast path only works on the local FS."""
    if not _local_fs_path(path):
        append_rows(local_frame(spark, rows, schema), path)
        return
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = {f.name: [getattr(r, f.name) for r in rows] for f in schema}
    tbl = pa.table(
        {
            "run_id": pa.array(cols["run_id"], pa.string()),
            "shard_id": pa.array(cols["shard_id"], pa.int32()),
            "docs": pa.array(cols["docs"], pa.int64()),
            "bytes": pa.array(cols["bytes"], pa.int64()),
            "parse_failures": pa.array(cols["parse_failures"], pa.int64()),
            "started_ts": pa.array(
                cols["started_ts"], pa.timestamp("us")
            ),
            "finished_ts": pa.array(
                cols["finished_ts"], pa.timestamp("us")
            ),
            "status": pa.array(cols["status"], pa.string()),
        }
    )
    tmp = os.path.join(path, f".{_uuid.uuid4().hex}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(
        path, f"part-{_uuid.uuid4().hex}.parquet"
    ))


def _chunk_shard_stats(
    spark, out_dir: str, chunk: list[int]
) -> dict[int, tuple[int, int, int]]:
    """(docs, bytes, parse_failures) for each shard just committed —
    counts reflect what is actually on disk. Local-FS tables take the
    driver-direct pyarrow path (same gating as _append_lineage_rows):
    only the two narrow metric columns are read — no Spark job, ~ms
    per chunk instead of ~1.5 s of scheduler overhead. Remote
    filesystems and Iceberg targets read back through Spark, where
    Catalyst prunes the scan to
    the same three columns (partition value + two int/bool chunks, a
    sub-percent fraction of the table's bytes at any scale).

    NOTE deliberately not Observation/CollectMetrics on the write plan:
    registering any Observation materializes the session's
    ObservationManager, which is non-serializable and breaks every
    later pyspark.ml model closure in the session (LogisticRegression
    summaries capture the SparkSession) — probed on Spark 4.1, see the
    r5 test pair test_pipeline -> test_quality_clf."""

    # the isdir(out_dir) guard matters on clusters where
    # fs.defaultFS is remote: a scheme-less '/data/extracted' LOOKS
    # local but the committed files live on HDFS — the table dir won't
    # exist on the driver's disk, so fall through to the Spark
    # read-back instead of recording all-zero counts
    # a bare name ('extracted') is an Iceberg table identifier ONLY when
    # an Iceberg catalog is actually configured — the same gating as
    # sources/io.py's writer, which this read-back must mirror (the CLI
    # accepts relative output dirs; treating every '/'-free name as a
    # table id crashed the post-commit stats on
    # `extract --output extracted`)
    from ..sources.io import iceberg_available

    is_iceberg = "/" not in out_dir and iceberg_available(spark)
    if (
        not is_iceberg
        and (_local_fs_path(out_dir) or "/" not in out_dir)
        and os.path.isdir(out_dir)
    ):
        import pyarrow.compute as pc
        import pyarrow.dataset as pda

        stats: dict[int, tuple[int, int, int]] = {}
        for s in chunk:
            d = os.path.join(out_dir, f"shard_id={s}")
            if not os.path.isdir(d):
                stats[s] = (0, 0, 0)
                continue
            dset = pda.dataset(d, format="parquet")
            t = dset.to_table(columns=["html_bytes", "parse_ok"])
            # null-safe false-count (matches the SQL branch's
            # when(~parse_ok, 1).otherwise(0): null is NOT a failure)
            fails = pc.sum(
                pc.cast(pc.equal(t["parse_ok"], False), "int64")
            ).as_py() or 0
            stats[s] = (
                t.num_rows,
                int(pc.sum(t["html_bytes"]).as_py() or 0),
                int(fails),
            )
        return stats
    # Iceberg identifiers read back via the catalog — matching
    # write_extracted's writeTo() commit; everything else is a
    # filesystem parquet table
    committed = (
        spark.read.table(out_dir) if is_iceberg
        else spark.read.parquet(out_dir)
    )
    rows = (
        committed
        .filter(F.col("shard_id").isin(chunk))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("html_bytes").alias("bytes"),
            F.sum(
                F.when(~F.col("parse_ok"), 1).otherwise(0)
            ).alias("parse_failures"),
        )
        .collect()
    )
    got = {r.shard_id: (r.docs, int(r.bytes), int(r.parse_failures))
           for r in rows}
    return {s: got.get(s, (0, 0, 0)) for s in chunk}


def run_extraction_job(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    shards_per_commit: int = 4,
    run_id: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Extract `pages` into `out_dir` (partitioned by shard_id), resuming
    past completed shards. Returns run summary."""
    spark = pages.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    done = done_shards(spark, out_dir)
    todo = [s for s in range(n_shards) if s not in done]
    total = {"run_id": run_id, "shards_done_prior": len(done), "chunks": 0,
             "docs": 0, "bytes": 0, "parse_failures": 0}

    sharded = pages.withColumn(
        "shard_id", F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int")
    )
    with capped_scan_splits(spark):
        for c0 in range(0, len(todo), shards_per_commit):
            chunk = todo[c0 : c0 + shards_per_commit]
            started = time.time()
            part = sharded.filter(F.col("shard_id").isin(chunk))
            # shard_id is re-derived from the url hash after extraction
            # (cheaper than carrying it through the Arrow boundary or
            # re-joining)
            extracted = extract_pages(
                part.select("url", "warc_ts", "html"),
                num_partitions=num_partitions,
            ).withColumn(
                "shard_id",
                F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int"),
            )
            write_extracted(
                extracted, out_dir,
                partition_cols=["shard_id"], overwrite_partitions=True,
            )
            stats = _chunk_shard_stats(spark, out_dir, chunk)
            finished = time.time()
            lin_rows = [
                Row(
                    run_id=run_id,
                    shard_id=s,
                    docs=stats[s][0],
                    bytes=stats[s][1],
                    parse_failures=stats[s][2],
                    started_ts=datetime.fromtimestamp(started),
                    finished_ts=datetime.fromtimestamp(finished),
                    status="done",
                )
                for s in chunk
            ]
            _append_lineage_rows(spark, lin_rows, LINEAGE_SCHEMA,
                                 _lineage_path(out_dir))
            total["chunks"] += 1
            total["docs"] += sum(r.docs for r in lin_rows)
            total["bytes"] += sum(r.bytes for r in lin_rows)
            total["parse_failures"] += sum(
                r.parse_failures for r in lin_rows
            )
    return total
