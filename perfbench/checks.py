"""Untimed output checks. Each returns (attempted, failed): the number of
checked outcomes and how many of them were wrong. `corrupt` damages one
golden value first, which must show up as a failure (the self-check)."""

from __future__ import annotations

import glob
import gzip
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _epoch_us(col) -> list[int]:
    col = pc.cast(col, pa.timestamp("us", tz=getattr(col.type, "tz", None)))
    return pc.cast(col, pa.int64()).to_pylist()


def _golden(inputs: str, corrupt: bool) -> dict:
    g = pq.read_table(os.path.join(inputs, "golden.parquet"))
    rows = {}
    for url, ts, text, ok in zip(g["url"].to_pylist(), _epoch_us(g["warc_ts"]),
                                 g["expected_text"].to_pylist(),
                                 g["expected_parse_ok"].to_pylist()):
        # the newest crawl of a url is its golden
        if url not in rows or ts > rows[url][0]:
            rows[url] = (ts, text, ok)
    if corrupt:
        url = next(u for u, (_, text, _) in sorted(rows.items()) if text)
        ts, text, ok = rows[url]
        rows[url] = (ts, text + " corrupted", ok)
    return rows


def _doc_ok(gold: tuple, text: str, parse_ok: bool) -> bool:
    _, expected, expected_ok = gold
    if parse_ok != expected_ok:
        return False
    # a page that must fail to parse has no golden text
    return expected is None or text == expected


def _expected_kept(gold: dict) -> set[str]:
    """The urls curate must keep under the rules dedup, quality and
    neardup, computed from the golden text of each url's newest crawl with
    the repo's DuckDB oracles of those rules. Keepers are the smallest id
    of an exact-text group or a near-duplicate cluster; doc ids follow url
    order, so they are the smallest url as in the pipeline. Pages that fail
    to parse have no text and are never kept."""
    import duckdb

    from document_ai_spark.queries_ml import SQL_MINHASH_LSH_PAIRS
    from document_ai_spark.queries_text import SQL_QUALITY_SCORE

    urls = sorted(u for u, (_, text, ok) in gold.items() if ok)
    docs = pa.table({
        "doc_id": pa.array(range(len(urls)), pa.int64()),
        "text": pa.array([gold[u][1] for u in urls], pa.string()),
    })
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        kept = {i for (i,) in con.execute(f"""
            SELECT q.doc_id FROM ({SQL_QUALITY_SCORE}) q
            JOIN (SELECT doc_id, doc_id = MIN(doc_id) OVER (
                      PARTITION BY md5(text)) AS is_keeper
                  FROM documents) d ON q.doc_id = d.doc_id
            WHERE q.quality_ok AND d.is_keeper""").fetchall()}
        pairs = con.execute(SQL_MINHASH_LSH_PAIRS).fetchall()
    finally:
        con.close()
    # connected components of the candidate pairs (union-find); the
    # oracle's recursive-CTE closure is the same result, much slower
    root = list(range(len(urls)))

    def find(i: int) -> int:
        while root[i] != i:
            root[i] = root[root[i]]
            i = root[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    return {urls[i] for i in kept if find(i) == i}


def check_pipeline(inputs: str, wd: str, shards: str, summary: dict,
                   corrupt: bool) -> tuple[int, int]:
    """Curated urls unique; each keeps its newest crawl and that crawl's
    golden text; the curated url set is the one the curation oracles
    give, so no document is lost or kept wrongly; exported records equal
    the packed rows."""
    gold = _golden(inputs, corrupt)
    cur = pq.read_table(os.path.join(wd, "curated"),
                        columns=["url", "warc_ts", "main_text", "parse_ok"])
    urls = cur["url"].to_pylist()
    failed = int(len(set(urls)) != len(urls))
    for url, ts, text, ok in zip(urls, _epoch_us(cur["warc_ts"]),
                                 cur["main_text"].to_pylist(),
                                 cur["parse_ok"].to_pylist()):
        g = gold.get(url)
        if g is None or ts != g[0] or not _doc_ok(g, text, ok):
            failed += 1
    # a url the oracles keep but curate dropped, or the reverse
    expected = _expected_kept(gold)
    failed += len(expected ^ set(urls))
    records = 0
    for path in glob.glob(os.path.join(shards, "*.jsonl.gz")):
        with gzip.open(path, "rb") as f:
            records += sum(1 for _ in f)
    packed = pq.read_table(os.path.join(wd, "packs"), columns=[]).num_rows
    failed += int(
        records != packed or summary["stages"]["export"]["records"] != packed
    )
    return len(expected | set(urls)) + 2, failed


def hashed_subset(names, seed: int, k: int = 6) -> set[str]:
    """The queries whose values are hash-checked in a run: `k` of them,
    rotating with the seed so that consecutive seeds cover all."""
    start = (seed * k) % len(names)
    return {names[(start + i) % len(names)] for i in range(k)}


def check_queries(spark, sf: str, names, qs: dict, oracles: dict,
                  counts: dict, errors: dict, hashed: set,
                  corrupt: bool) -> tuple[int, int]:
    """Every query's row count from the timed pass against its DuckDB
    oracle; for the queries in `hashed`, also the order-insensitive value
    hash of a re-run, canonicalized as scripts/check_oracle.py does."""
    import sys

    import duckdb

    from scripts.check_oracle import TABLES, canon

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf}/{t}.parquet'")
        failed = 0
        for i, name in enumerate(names):
            if name in errors:
                print(f"perfbench: {name} failed: {errors[name]}",
                      file=sys.stderr)
                failed += 1
                continue
            want = con.execute(oracles[name]).df()
            if corrupt and i == 0:
                want = want.iloc[1:]
            same = counts[name] == len(want)
            if same and name in hashed:
                got = qs[name](spark, sf).toPandas()
                same = (
                    sorted(got.columns) == sorted(want.columns)
                    and canon(got)[0] == canon(want)[0]
                )
            if not same:
                print(f"perfbench: {name} differs from its oracle",
                      file=sys.stderr)
                failed += 1
        return len(names), failed
    finally:
        con.close()
