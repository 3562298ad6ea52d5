"""Seeded input generators for the benchmark's workloads.

Every input is a pure function of (workload, seed, size): the page corpus
comes from `datagen.gen_rows`, whose goldens are built by construction, and
the query tables are a seeded share of the repo's sf0.1 test tables, kept
in `data/sf0.1`.
Inputs are written once per (workload, seed, size) into a cache directory
and reused; generation never runs inside a timed region.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import timedelta

# pipeline: default-shaped pages, plus one recrawl per RECRAWL_EVERY urls
PIPELINE_DOCS = 3_000
RECRAWL_EVERY = 10
# queries: the share of orders, users, documents and vectors of the sf0.1
# test tables that a run reads (lineitem keeps about 120k of its 600k rows)
QUERIES_SHARE = 0.2

# 4 files of 512-row groups give 8 row groups, enough for the
# unsalted extraction path at local[4]
ROW_GROUP_ROWS = 512
N_FILES = 4
KEEP_CACHED = 3  # newest cached inputs kept per workload


def _pages_table(rows):
    import pyarrow as pa

    return pa.table(
        {
            "url": [r.url for r in rows],
            "warc_ts": pa.array(
                [r.warc_ts for r in rows], type=pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r.html for r in rows], type=pa.binary()),
            "text": [r.text for r in rows],
            "lang": [r.lang for r in rows],
        }
    )


def gen_pipeline(out: str, seed: int, n_docs: int = PIPELINE_DOCS) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_ai_spark.datagen import gen_rows

    rows = gen_rows(n_docs, seed=seed)
    for i in range(3, n_docs, RECRAWL_EVERY):
        # a later crawl of the same url whose article changed: the page
        # comes from an index outside the corpus, so its golden is still
        # the constructed text of that page
        alt = gen_rows(1, seed=seed, start=n_docs + i)[0]
        alt.url = rows[i].url
        alt.warc_ts = rows[i].warc_ts + timedelta(days=1)
        rows.append(alt)
    os.makedirs(os.path.join(out, "pages"))
    per = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        pq.write_table(
            _pages_table(rows[k * per:(k + 1) * per]),
            os.path.join(out, "pages", f"part-{k:02d}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )
    golden = pa.table({
        "url": [r.url for r in rows],
        "warc_ts": pa.array([r.warc_ts for r in rows],
                            type=pa.timestamp("us", tz="UTC")),
        "expected_text": pa.array([r.expected_text for r in rows],
                                  type=pa.string()),
        "expected_parse_ok": [r.expected_parse_ok for r in rows],
    })
    pq.write_table(golden, os.path.join(out, "golden.parquet"))
    return {"pages": len(rows), "urls": n_docs}


# ---- queries: a seeded share of the repo's sf0.1 test tables ----

# data/sf0.1 is the sf0.1 table set of TESTDATA.md (deterministic
# synthetic TPC-H-like tables, events, documents, embeddings; seed 42),
# recompressed with zstd. A run reads a seeded share of it.
QUERIES_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.1")
# fact tables keep rows by a key so that groups stay whole (an order with
# its line items, a user with their events): table -> (key column, key
# space); tables of one key space keep the same keys. Dimension tables
# stay whole.
SAMPLED_BY = {
    "orders": ("o_orderkey", 0),
    "lineitem": ("l_orderkey", 0),
    "events": ("user_id", 1),
    "documents": ("doc_id", 2),
    "embeddings": ("vec_id", 3),
}
# the queries' probe documents and vectors (ids 0-2) are always kept
PROBE_IDS = 3


def _kept_keys(seed: int, space: int, n_keys: int, share: float):
    import numpy as np

    keep = np.random.default_rng([seed, space]).random(n_keys) < share
    keep[:PROBE_IDS] = True
    return keep


def gen_queries(out: str, seed: int, share: float = QUERIES_SHARE) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(out, "sf"))
    rows = {}
    for name in sorted(os.listdir(QUERIES_DATA)):
        table = name.removesuffix(".parquet")
        tbl = pq.read_table(os.path.join(QUERIES_DATA, name))
        if table in SAMPLED_BY:
            key, space = SAMPLED_BY[table]
            ids = tbl[key].to_numpy()
            keep = _kept_keys(seed, space, int(ids.max()) + 1, share)
            tbl = tbl.filter(pa.array(keep[ids]))
        # one snappy row group per table, the layout of the test tables
        pq.write_table(tbl, os.path.join(out, "sf", name),
                       row_group_size=max(1, tbl.num_rows))
        rows[table] = tbl.num_rows
    return rows


GENERATORS = {
    "pipeline": (gen_pipeline, PIPELINE_DOCS),
    "queries": (gen_queries, QUERIES_SHARE),
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> str:
    """Return the cached input directory for (workload, seed), building it
    on first use. A directory without its `_DONE` marker is a crashed
    build and is rebuilt."""
    fn, size = GENERATORS[workload]
    out = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        info = fn(out, seed, size)
        with open(done, "w") as f:
            json.dump(info, f)
    os.utime(done)
    _prune(cache_root, workload, keep=out)
    return out


def _prune(cache_root: str, workload: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if d.startswith(workload + "-")
    ]

    def age(d):
        marker = os.path.join(d, "_DONE")
        return os.path.getmtime(marker) if os.path.exists(marker) else 0.0

    for d in sorted(entries, key=age, reverse=True)[KEEP_CACHED:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
