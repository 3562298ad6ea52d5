"""Table IO behind one seam: Iceberg when available, parquet otherwise.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jars, so the layer keeps the Iceberg code path (`writeTo(...).append()`,
overwrite-by-filter) behind a capability probe and falls back to a parquet
layout with IDENTICAL schema and the same idempotency property:
dynamic-partition-overwrite on a `shard_id` partition column is the parquet
stand-in for Iceberg's overwrite-by-filter snapshot commit (SURVEY.md §2.11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured and the runtime jar loads."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return False
    return any(
        k.startswith("spark.sql.catalog.")
        for (k, _v) in spark.sparkContext.getConf().getAll()
    )


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table. `source` is an Iceberg table name (contains no
    '/') or a parquet file/dir path."""
    if "/" not in source and iceberg_available(spark):
        return spark.read.format("iceberg").load(source)
    if os.path.isdir(source) and not any(
        f.endswith(".parquet") for f in os.listdir(source)
    ):
        source = os.path.join(source, "pages.parquet")
    return spark.read.parquet(source)


def write_extracted(
    df: DataFrame,
    target: str,
    partition_cols: list[str] | None = None,
    overwrite_partitions: bool = True,
) -> None:
    """Write/commit the extracted table idempotently.

    Iceberg: ``writeTo(target).overwritePartitions()`` (snapshot-atomic).
    Parquet fallback: dynamic partition overwrite — only partitions present
    in `df` are replaced, so re-running a failed shard never duplicates rows.
    """
    spark = df.sparkSession
    if "/" not in target and iceberg_available(spark):
        w = df.writeTo(target)
        if overwrite_partitions:
            w.overwritePartitions()
        else:
            w.append()
        return
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Output-file sizing: the salt partition count is already size-aware
    # (TARGET_PARTITION_BYTES of raw html per task -> ~tens of MB parquet
    # per file); maxRecordsPerFile is the upper guard for pathological rows.
    writer = (
        df.write.mode("overwrite" if overwrite_partitions else "append")
        .option("maxRecordsPerFile", 1_000_000)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(target)


def append_rows(df: DataFrame, target: str) -> None:
    """Append-only log table (lineage/metrics). Iceberg append or parquet
    append — both are commit-atomic per job (FileOutputCommitter for the
    parquet path: uncommitted task files are never made visible)."""
    spark = df.sparkSession
    if "/" not in target and iceberg_available(spark):
        df.writeTo(target).append()
        return
    df.write.mode("append").parquet(target)


def parquet_data_files(path: str) -> list[str]:
    """The data files `spark.read.parquet(path)` reads, for a parquet
    dir, file or glob. Mirrors the reader's path semantics: below the
    table root, '_'/'.'-prefixed entries are metadata, not data (the
    extract stage keeps its lineage parquet under `extracted/_lineage/`),
    and a glob may match directories (e.g. 'extracted/shard_id=*'),
    which the reader descends into. The root itself may sit under any
    path, `_`-prefixed names included."""
    import glob as _glob

    def _walk(d: str) -> list[str]:
        out = []
        for root, dirs, names in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out += [
                os.path.join(root, f)
                for f in names
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return out

    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return _walk(path)
    files = []
    for p in _glob.glob(path):
        if os.path.isdir(p):
            files += _walk(p)
        elif p.endswith(".parquet") and os.path.isfile(p):
            files.append(p)
    return files


def parquet_rows(path: str) -> int:
    """Exact row count of a parquet dir/file/glob from the file FOOTERS:
    a driver-side metadata read, no Spark job, so stage summaries never
    re-scan (or re-run the lineage of) what a stage just wrote."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in parquet_data_files(path)
    )
