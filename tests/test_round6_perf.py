"""Round-6 optimization guards: scans read without a repartition and the
rewritten headline queries' oracle parity. The session-creation warmup
tests live in test_session.py."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


# the headline entries that once repartitioned their documents scan
# before the per-row work (the deleted round-6 scan fan-out)
SCAN_DIRECT = [
    "extract_article", "extract_pdf", "minhash_signatures",
    "ngram_jaccard_probe", "simhash", "winnow_fingerprint",
    "text_metrics", "best_config", "next_right_word_2d",
    "curation_funnel",
]


def test_queries_read_scan_without_repartition(spark):
    """Every query reads its scan directly: no explicit repartition
    exchange (REPARTITION_BY_NUM) in the formatted physical plan — the
    only exchanges left are the ones the operators themselves need."""
    import __spark_entry__ as entrymod

    from document_ai_spark.plans.audit import formatted_plan

    qs = entrymod.queries()
    fanned = [
        q for q in SCAN_DIRECT
        if "REPARTITION_BY_NUM" in formatted_plan(qs[q](spark, SF))
    ]
    assert fanned == []


@pytest.mark.parametrize("query", ["simhash", "next_right_word_2d"])
def test_rewritten_queries_still_match_duckdb(spark, query):
    """Belt-and-braces on the two restructured headline queries: their
    per-document Arrow stages (SimHash bit votes, the 2-D next-right
    search) must stay value-identical to their DuckDB oracles at sf0.001
    (the full gate runs at sf0.01 via scripts/check_oracle)."""
    import duckdb

    import __spark_entry__ as entrymod
    from scripts.check_oracle import TABLES, canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    sdf = entrymod.queries()[query](spark, SF).toPandas()
    odf = con.execute(entrymod.oracle_sql()[query]).df()
    assert len(sdf) == len(odf)
    assert canon(sdf)[0] == canon(odf)[0]
