"""Self-audit over the whole query registry — run after adding queries.

1. VACUITY: every oracle SQL at sf0.01 — zero-row results and constant
   boolean flags (>5 rows) are how a broken predicate hides behind a green
   hash check (the round-1 near-dups lesson).
2. SCAN COUNTS: plan-level `Scan parquet` occurrences per query — a union
   or composed sub-query that re-plans a big-table scan per branch is a
   100 TB bottleneck invisible at fixture scale (the round-2
   minhash_lsh_pairs lesson: 8 scans).
3. SCALAR OUTPUTS: the driver's canonicalizer sorts pandas frames — an
   array/map/struct output column crashes it (the round-1
   winnow_fingerprint failure). Every query must emit scalar columns.

Usage: python scripts/audit_queries.py [--sf-dir DIR] [--max-scans N]
Exit 1 if any zero-row oracle or any query above --max-scans that is not
in the documented allowlist.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.check_oracle import TABLES  # noqa: E402

# >=3 scans, reviewed and justified: multi-table joins or set-operation
# semantics where each branch IS the operator
SCAN_ALLOWLIST = {
    "region_revenue": 5,        # 5 different tables
    "ann_lsh_recall": 6,        # brute reused twice (hit-join + k count)
                                # + 2 bucket sides; sample-scale eval query
    "ann_ivf_topk": 4,          # index build (centroids) composed with the
                                # probe in ONE query for the oracle; in
                                # production the inverted lists + centroid
                                # sums are materialized once, probes scan
                                # only nprobe lists
    "embedding_near_dup_pairs": 4,  # tagged union of the baseline (2
                                # scans) and LSH (2 scans) variants — each
                                # branch is already scan-minimal
    "relational_demo_suite": 24,  # driver-window consolidation: 8 demo
                                # branches over SMALL dims (orders/
                                # customer/part/supplier); each branch IS
                                # its operator (set ops alone are 3 scans)
                                # and branches were scan-audited before the
                                # merge — never co-run at corpus scale.
                                # r4: +1 for the chunking branch (one
                                # documents scan); the shared-passages
                                # branch materializes its fingerprints
                                # once (localCheckpoint) so its three
                                # uses add no parquet scans.
                                # r5: +8 measured for the five new
                                # branches — quality_lm 1 (vocab AND
                                # scores are localCheckpointed, so only
                                # the id join-back scans parquet),
                                # crawl_diff 4 (old + the three
                                # constructed new-snapshot slices; at
                                # corpus scale old/new are two
                                # DIFFERENT tables scanned once each),
                                # domain_mixture 1, quality_clf 2 (pos
                                # + neg scoring; the bounded fit sample
                                # runs eagerly outside the returned
                                # plan), passage_excision 0 (reads the
                                # same localCheckpointed fingerprint
                                # map as shared_passages).
                                # r5b: +1 for the repetition branch
                                # (one documents scan; all metrics are
                                # column expressions over it)
    "sessionize": 2,            # two sessionization forms over events
    "doc_signatures": 3,        # fingerprint (shingle explode) + entropy
                                # (char explode) branches joined per doc —
                                # registry-slot merge, branches already
                                # scan-minimal
    "ngram_jaccard_probe": 6,   # ONE full corpus scan; the other five are
                                # doc_id point lookups (probe doc, eval
                                # docs 0-2, injection snippet) whose
                                # pushed filters skip row groups at scale
}

# constant-flag columns that are constant BY CONSTRUCTION: these queries'
# real check is the byte-identical text; the failure paths live in
# extract_validate and the pytest corpus's parse-failure docs
VACUITY_ALLOWLIST = {
    ("extract_article", "parse_ok"),
    ("extract_pdf", "parse_ok"),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--max-scans", type=int, default=2)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as e
    from document_ai_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{args.sf_dir}/{t}.parquet'"
        )
    problems = []
    for name, sql in e.oracle_sql().items():
        df = con.execute(sql).df()
        if len(df) == 0:
            problems.append(f"{name}: ZERO ROWS (vacuous oracle)")
            continue
        for c in df.columns:
            if (df[c].dtype == bool and len(df) > 5
                    and df[c].nunique() == 1
                    and (name, c) not in VACUITY_ALLOWLIST):
                problems.append(
                    f"{name}: constant bool {c}={df[c].iloc[0]} "
                    f"over {len(df)} rows"
                )

    spark = get_spark(app_name="audit", master="local[4]",
                      shuffle_partitions=4)
    from pyspark.sql import types as T

    for name, fn in sorted(e.queries().items()):
        schema = fn(spark, args.sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType,
                                       T.StructType)):
                problems.append(
                    f"{name}: non-scalar output column {f.name} "
                    f"({f.dataType.simpleString()}) breaks the driver "
                    "canonicalizer"
                )
        plan = (
            fn(spark, args.sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        n = plan.count("Scan parquet")
        limit = SCAN_ALLOWLIST.get(name, args.max_scans)
        flag = "  <-- OVER BUDGET" if n > limit else ""
        if n > args.max_scans:
            print(f"{name}: {n} scans (budget {limit}){flag}")
        if n > limit:
            problems.append(f"{name}: {n} scans > budget {limit}")
    spark.stop()

    if problems:
        print("\nAUDIT PROBLEMS:")
        for p in problems:
            print(" -", p)
        return 1
    print("audit clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
