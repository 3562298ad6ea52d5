"""The per-document Arrow stages (the 2-D next-right search and SimHash):
Spark against the DuckDB oracle SQL on hand-made edge documents, the
stage's distance rounding against Spark's round(), and the plan shape
Scan -> MapInArrow with no exchange and no checkpoint."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from document_ai_spark.plans.audit import formatted_plan
from document_ai_spark.queries_spatial import MAX_DIST, _round6
from scripts.check_oracle import canon

SF = "/root/testdata/sf0.001"
STAGE_QUERIES = ["next_right_word_2d", "fuzzy_key_next_right", "simhash"]

# Two candidates at equal distance cannot come from a documents table:
# for key-length words (2..7 chars) no two same-line boxes of the layout
# sit at the same rounded distance, so test_spatial pins that tie on the
# box-array search.
EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "  \t\n\r\f  "),                 # whitespace only
    (4, "\tspark window"),               # empty edge word: spark at i = 1
    (5, "spark"),                        # one word
    (6, "alpha beta gamma"),             # no key
    (7, "a b c d e f g h spark"),        # key alone on line 2: no candidate
    (8, "slow alpha row beta"),          # "sow" hits slow AND row
    (9, "spark\u00a0plug window next"),  # U+00A0 stays inside the word
    (10, "The SPARK Engine  runs batch jobs "),  # upper-case key word
    (11, "spark\x0bwindow\x0cnext"),    # U+000B, U+000C split (Java \s)
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("edge_docs")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in EDGE_DOCS], pa.int64()),
            "text": pa.array([t for _, t in EDGE_DOCS], pa.string()),
        }),
        out / "documents.parquet",
    )
    return str(out)


@pytest.mark.parametrize("name", STAGE_QUERIES)
def test_edge_docs_match_oracle(spark, edge_dir, name):
    sdf = entrymod.queries()[name](spark, edge_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_dir}/documents.parquet'"
    )
    odf = con.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert canon(sdf)[1] == canon(odf)[1]
    if name == "simhash":
        got = dict(zip(sdf.doc_id, sdf.simhash))
        assert [got[d] for d in (1, 2, 3)] == [0, 0, 0]
        assert len(set(got.values())) == len(EDGE_DOCS) - 2
        return
    got = {(r.doc_id, r.key): r.next_word for r in sdf.itertuples()}
    key = "spark" if name == "next_right_word_2d" else "sparc"
    assert [got[(d, key)] for d in (1, 2, 3, 4, 5, 6, 7, 9, 10, 11)] == [
        "<NOT_FOUND>", "<NOT_FOUND>", "<NOT_FOUND>", "window", "<EMPTY>",
        "<NOT_FOUND>", "<EMPTY>", "<NOT_FOUND>", "Engine", "window",
    ]
    if name == "fuzzy_key_next_right":
        assert got[(8, "sow")] == "alpha"


def test_stage_rounding_equals_spark_round(spark):
    """Every center offset the box layout can reach (half-integer dx and
    dy) within MAX_DIST: the stage's rounding of its numpy distance
    equals Spark's round(sqrt(dx*dx + dy*dy), 6)."""
    n = 2 * int(MAX_DIST)  # offsets in half units
    a = (F.col("id") / (n + 1)).cast("long")
    b = F.col("id") % (n + 1)
    dx, dy = a / 2.0, b / 2.0
    pdf = (
        spark.range((n + 1) ** 2)
        .select(a.alias("a"), b.alias("b"),
                F.round(F.sqrt(dx * dx + dy * dy), 6).alias("dist"))
        .filter(F.col("a") * F.col("a") + F.col("b") * F.col("b") <= n * n)
        .toPandas()
    )
    raw = np.sqrt((pdf.a.to_numpy() / 2) ** 2 + (pdf.b.to_numpy() / 2) ** 2)
    assert len(pdf) > 100_000
    assert [_round6(d) for d in raw.tolist()] == pdf.dist.tolist()


@pytest.mark.parametrize("name", STAGE_QUERIES)
def test_stage_plan_has_no_exchange_or_checkpoint(spark, name):
    """Each query is Scan -> MapInArrow: no shuffle or broadcast exchange
    and no checkpointed relation, whatever the corpus size."""
    df = entrymod.queries()[name](spark, SF)
    plan = formatted_plan(df)
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in optimized
