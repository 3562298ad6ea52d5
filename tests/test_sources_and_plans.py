"""Source-format coverage (S7 JSON / S8 CSV fixtures read with explicit
schemas), physical-plan regression checks (pushdown, broadcast) and the
parquet table walk behind the footer row count and compaction sizing
(`_`-prefixed entries, directory globs, file and glob inputs)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_ai_spark import queries as Q


from document_ai_spark.plans.audit import formatted_plan as _plan


def test_csv_golden_roundtrip(spark, corpus_dir, tmp_path):
    """S8: golden fixtures as CSV, read back with header+schema."""
    import pandas as pd

    golden = spark.read.parquet(
        os.path.join(corpus_dir, "golden_text.parquet")
    )
    csv_path = str(tmp_path / "golden.csv")
    golden.toPandas().to_csv(csv_path, index=False)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("expected_text", T.StringType()),
            T.StructField("expected_parse_ok", T.BooleanType()),
        ]
    )
    back = spark.read.csv(csv_path, header=True, schema=schema,
                          multiLine=True, escape='"')
    assert back.count() == golden.count()
    # join-compare the parse_ok flags (text survives quoting round-trip)
    j = golden.alias("g").join(back.alias("b"), "url")
    assert j.filter(
        F.col("g.expected_parse_ok") != F.col("b.expected_parse_ok")
    ).count() == 0


def test_json_fixture_read(spark, corpus_dir, tmp_path):
    """S7: verdict fixtures as JSON-lines, read with explicit schema."""
    verdict = spark.read.parquet(
        os.path.join(corpus_dir, "verdict_truth.parquet")
    )
    json_dir = str(tmp_path / "verdict_json")
    verdict.write.json(json_dir)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("validated", T.BooleanType()),
            T.StructField("causes", T.ArrayType(T.StringType())),
        ]
    )
    back = spark.read.json(json_dir, schema=schema)
    assert back.count() == verdict.count()
    j = verdict.alias("v").join(back.alias("b"), "url")
    assert j.filter(
        F.col("v.validated") != F.col("b.validated")
    ).count() == 0


def test_pricing_summary_pushdown(spark):
    plan = _plan(Q.q_pricing_summary(spark, "/root/testdata/sf0.001"))
    assert "LessThan(l_quantity,50.0)" in plan  # predicate reached the scan
    assert "l_shipdate" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_region_revenue_broadcasts_dims(spark):
    plan = _plan(Q.q_region_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims broadcast at this scale


def test_extraction_is_size_aware(spark, corpus_dir):
    from document_ai_spark.operators.extraction import (
        estimate_input_bytes,
        size_aware_partitions,
    )

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    est = estimate_input_bytes(pages)
    assert est > 0
    n = size_aware_partitions(pages)
    assert n >= 4 * spark.sparkContext.defaultParallelism


def test_aqe_splits_skewed_join(spark):
    """Skew posture, runtime half: a hot join key concentrating ~99% of the
    fact rows is split by AQE at execution (SortMergeJoin(skew=true) +
    AQEShuffleRead skewed) — the engine-side complement to the explicit
    size-aware salting of UDF-compute skew in operators/extraction.py.
    Thresholds are lowered test-side: the defaults only fire at 256MB
    partitions, far beyond fixture scale."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    s = spark
    fact = s.range(200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(7))
        .otherwise(F.col("id") % 13).alias("k"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
    )
    dim = s.range(13).select(
        F.col("id").alias("k"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("d"),
    )
    j = fact.join(dim, "k")
    assert len(j.collect()) == 200_000
    plan = j._jdf.queryExecution().executedPlan().toString()
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    assert "skew=true" in plan
    assert "AQEShuffleRead skewed" in plan


def test_table_walk_under_lineage_named_path(tmp_path):
    """compact.table_file_stats and the footer row count walk the same
    data files, skipping `_`-prefixed entries below the table root only:
    a table kept under a path that itself contains `_lineage` is still
    seen in full (sizing a compaction from 0 bytes otherwise)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_ai_spark.operators.compact import table_file_stats
    from document_ai_spark.sources.io import parquet_data_files, parquet_rows

    d = tmp_path / "crawl_lineage_2026" / "_lineage_tables" / "extracted"
    (d / "shard_id=0").mkdir(parents=True)
    (d / "_lineage").mkdir()
    pq.write_table(pa.table({"x": list(range(5))}),
                   str(d / "shard_id=0" / "part-0.parquet"))
    pq.write_table(pa.table({"x": list(range(4))}), str(d / "part-1.parquet"))
    pq.write_table(pa.table({"shard": [1, 2]}),
                   str(d / "_lineage" / "rows.parquet"))
    files = parquet_data_files(str(d))
    assert sorted(os.path.basename(f) for f in files) == [
        "part-0.parquet", "part-1.parquet"
    ]
    assert table_file_stats(str(d)) == {
        "n_files": 2,
        "bytes": sum(os.path.getsize(f) for f in files),
    }
    assert parquet_rows(str(d)) == 9


def test_parquet_rows_directory_glob(spark, tmp_path):
    """parquet_rows must mirror spark.read.parquet's path semantics for
    globs that match DIRECTORIES (e.g. 'extracted/shard_id=*'), not just
    files — a 0 here silently defeats adaptive_collapse's identity skip
    and corrupts summary counts."""
    import glob as _glob

    from document_ai_spark.sources.io import parquet_rows

    base = str(tmp_path / "extracted")
    df = spark.createDataFrame(
        [(f"u{i}", i % 2) for i in range(10)], "url string, shard_id int"
    )
    df.write.partitionBy("shard_id").parquet(base)
    pat = os.path.join(base, "shard_id=*")
    assert len(_glob.glob(pat)) == 2  # the glob matches directories
    assert parquet_rows(pat) == 10
    assert parquet_rows(base) == 10


def test_parquet_rows_skips_lineage_and_handles_files(tmp_path):
    """parquet_rows must mirror the Spark reader: '_'-prefixed dirs
    (the extract stage's `_lineage` bookkeeping) are metadata, not
    data; single-file and glob inputs count like spark.read.parquet
    accepts them (the old os.walk returned 0 for both)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_ai_spark.sources.io import parquet_rows

    d = tmp_path / "extracted"
    (d / "_lineage").mkdir(parents=True)
    tbl = pa.table({"x": list(range(7))})
    pq.write_table(tbl, str(d / "part-0.parquet"))
    pq.write_table(tbl, str(d / "part-1.parquet"))
    pq.write_table(pa.table({"shard": [1, 2, 3]}),
                   str(d / "_lineage" / "rows.parquet"))
    assert parquet_rows(str(d)) == 14  # not 17
    assert parquet_rows(str(d / "part-0.parquet")) == 7
    assert parquet_rows(str(d / "part-*.parquet")) == 14
