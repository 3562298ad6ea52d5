"""Regenerate PLANS.md from live .explain("formatted") output.

Usage: python scripts/gen_plans.py [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from document_ai_spark import queries as Q
    from document_ai_spark import queries_ml as M
    from document_ai_spark import queries_pipeline as P  # noqa: F401
    from document_ai_spark import queries_spatial as SP
    from document_ai_spark import queries_suites as SU
    from document_ai_spark import queries_text as TX
    from document_ai_spark.datagen import write_corpus
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.audit import formatted_plan
    from document_ai_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    sf = args.sf_dir

    def plan(df, keep=None):
        lines = formatted_plan(df).splitlines()
        tree_end = next(
            (i for i, line in enumerate(lines) if line.strip() == ""),
            len(lines),
        )
        tree = lines[:tree_end]
        extra = [
            line for line in lines if keep and any(k in line for k in keep)
        ]
        return "\n".join(tree + (["..."] + extra if extra else []))

    # the production extraction path (salted) over a real corpus sample
    import tempfile

    td = tempfile.mkdtemp(prefix="plans_corpus_")
    write_corpus(td, n_docs=200, verify=False)
    pages = spark.read.parquet(os.path.join(td, "pages.parquet"))
    salted_plan = plan(extract_pages(pages, salted=True))
    unsalted_plan = plan(extract_pages(pages, salted=False))

    out = [
        """# PLANS — physical-plan evidence for the flagship queries

Generated from `.explain("formatted")` at sf0.01 on local[8]. Regenerate
with `python scripts/gen_plans.py`. The point of each plan is noted, with
the 100 TB question answered: would this survive a 1000-executor cluster?
""",
        "## extraction job (production path, salted)\n",
        "```\n" + salted_plan + "\n```\n",
        """**Scale notes.** One scan -> one hash-partition Exchange (the
size-aware salt: `pmod(xxhash64(url), n)` with n derived from input bytes —
64 MB raw html per task, >=4x parallelism) -> a single `MapInArrow` span
runs the whole kernel. At 100 TB the salt count grows with input size so
per-task memory stays bounded; the only Python crossing is one
Arrow-batched stage; no driver-side loop, no collect.
""",
        "## extraction job (auto-unsalted path)\n",
        "```\n" + unsalted_plan + "\n```\n",
        """**Scale notes.** The default is `salted=\"auto\"`: when the
input's row-group structure already bounds per-task raw bytes (every row
group <= 64 MB uncompressed, >= 2x-parallelism row groups — checked from
footers locally, from the table manifest on a cluster), the full-payload
shuffle disappears and the kernel runs directly on the scan — measured
~1.6x end-to-end on the bench corpus (BENCH/BASELINE.md). Skew stays
bounded because the action site wraps the job in `capped_scan_splits`
(r3: a save/restore context manager — the cap no longer leaks into the
session), which caps `files.maxPartitionBytes` so split packing cannot
rebuild oversized tasks; pathological layouts (one giant row group,
unknown manifests) keep the salted plan above — measured 3.5x in its
favor there (BENCH/BASELINE.md salting table).
""",
        "## pricing_summary — pushdown + partial aggregation\n",
        "```\n"
        + plan(
            Q.q_pricing_summary(spark, sf),
            keep=["PushedFilters", "ReadSchema"],
        )
        + "\n```\n",
        """**Scale notes.** `LessThan(l_quantity,50.0)` is in
`PushedFilters` and `ReadSchema` carries only the 5 referenced columns —
at 100 TB the scan skips row groups by statistics and never materializes
unused columns. `HashAggregate` appears twice (partial then final): the
shuffle carries one row per group per task, not per input row.
""",
        "## region_revenue — broadcast dimension joins\n",
        "```\n" + plan(Q.q_region_revenue(spark, sf)) + "\n```\n",
        """**Scale notes.** All dimension joins are `BroadcastHashJoin` —
zero shuffle on the fact table until the final aggregation Exchange. At
100 TB nation/region always broadcast; customer/orders flip to shuffle
joins automatically when they outgrow the threshold, and AQE re-plans at
runtime — nothing in the query changes.
""",
        "## minhash_signatures — dedup at scale\n",
        "```\n" + plan(M.q_minhash_signatures(spark, sf)) + "\n```\n",
        """**Scale notes.** One Arrow-batched Python stage
(`MapInArrow`) over the pruned (doc_id, text) scan, with no exchange:
per doc it applies the frozen word split, keeps the distinct word
3-grams in a set, runs two `hashlib.md5` per shingle and takes numpy
minima of the digests' big-endian 32-bit words, formatted back to the
8-hex strings the DuckDB twin computes. The same signature as
generated expressions (explode, md5 slices, min() per slot) would
sort-aggregate every shingle row of the corpus. Only the band keys are
projected after it.
""",
        "## minhash_lsh_pairs — candidate pairs without a self-join\n",
        "```\n" + plan(M.q_minhash_lsh_pairs(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** ONE scan: the r5 bucket form groups each
(band, key) bucket and explodes the sorted-id upper triangle, so the
scan->shingle->signature pipeline runs once. The aliased band self-join
it replaced defeated Spark's exchange reuse — the physical plan carried
TWO full scans and re-ran the dominant stage per join side. Shuffles
carry 8 short band rows per doc, never shingle text; a hot boilerplate
bucket emits its k^2 pairs either way (capped upstream by banding
parameters), so the rewrite strictly removes work.
""",
        "## next_right_word_2d — 2-D spatial nearest-right search (J2)\n",
        "```\n" + plan(SP.q_next_right_word_2d(spark, sf)) + "\n```\n",
        """**Scale notes.** A document's boxes and its keys never leave its
row, so the search is one mapInArrow stage over the pruned (doc_id,
text) columns: per document, the frozen word split, the integer box
layout, the first key box in reading order and the (dist, i) argmin of
the y-overlapping boxes to its right. No exchange, no broadcast and no
checkpoint, so nothing in the plan grows with the corpus but the scan
(pinned by tests/test_doc_stages.py). `fuzzy_key_next_right` is the same
stage with a levenshtein key match, gated on word length before the DP.
""",
        "## simhash — per-document bit votes\n",
        "```\n" + plan(M.q_simhash(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** One mapInArrow stage over (doc_id, text): per
document, md5 per token, the first 8 digest bytes unpacked into 64 bit
votes, and the sign bits packed back into a signed BIGINT. Every
document row emits its own simhash (0 for no tokens), so there is no
aggregate, no shuffle and no rejoin.
""",
        "## curation_funnel — single-scan multi-rule curation\n",
        "```\n" + plan(M.q_curation_funnel(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** The four column-expression stage flags (dedup
keeper, quality, Gopher pack, language-ID agreement) come from ONE scan
of the documents table — composing the standalone queries would re-read
the 100 TB text column once per flag. The r3 near-dup stage adds the
MinHash/LSH candidate pipeline (bucketed band pair-explode — r5: no
self-join, never all-pairs)
plus connected components under an adaptive size gate: candidate graphs
<= 1M edges (the sf LSH graph is a few hundred) resolve via a driver
union-find — visible here as the broadcast LocalTableScan label side —
while larger graphs run the O(log diameter) pointer-jumping loop whose
width adapts to the measured edge count (both paths cross-checked for
identical fixpoints in tests). Keeper flags join back on doc_id. The
same engine (operators/curate.py) runs against freshly extracted tables
via the `curate` CLI (`--rules dedup,neardup,quality,gopher,lm`).
""",
        "## line_dedup — C4-style line-level corpus dedup\n",
        "```\n" + plan(TX.q_line_dedup(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** Lines explode JVM-side with positions; the
frequency count shuffles on the normalized line key (uniform — exactly
the shape the production C4 pipeline ran at web scale); the left join
back is key-partitioned, and documents reassemble with an order-aware
aggregate. No Python anywhere; the only wide operations are two hash
shuffles on uniform keys.
""",
        "## ann_ivf_topk — deterministic IVF (index build + probe)\n",
        "```\n" + plan(M.q_ann_ivf_topk(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** List assignment is exact-integer hyperplane
arithmetic in column expressions; centroids are per-(list, dimension)
integer SUMs (order-independent, so the oracle agrees bit for bit);
probing broadcasts the tiny centroid/probe sides and the exact re-rank
touches only the IVF_NPROBE selected lists. In production the inverted
lists and centroid sums are materialized once as the vector table's
physical partitioning — this composed one-query form exists for the
correctness gate; the scan-count audit documents the difference.
""",
        "## passage_excision — exact-substring removal (r5)\n",
        "```\n" + plan(SU._q_passage_excision(spark, sf),
                       keep=["ReadSchema"]) + "\n```\n",
        """**Scale notes.** Candidate pairs come from the winnowing
fingerprint self-join bucketed BY FINGERPRINT with a doc-frequency cap
(never all-pairs); anchors collapse to one per (pair, alignment shift,
256-char position bucket), so a long shared run costs O(len/256)
extensions, each comparing two BOUNDED 1024-char slices (column
expressions, no UDF). The normalized corpus and the merged span table
are the two deliberate materializations (localCheckpoint here; a real
deployment writes them as tables, the way suffix-array dedup
materializes its index). Span union and segment reassembly are
per-victim windows/aggregations hash-partitioned on doc_id. The merge
step guarantees full-run recovery because consecutive kept anchors are
<= 2*bucket apart < the extension bound (pytested with a passage 3x
the bound).
""",
        "## interval_union — window cumulative-max grouping\n",
        "```\n" + plan(Q.q_interval_union(spark, sf)) + "\n```\n",
        """**Scale notes.** One Exchange on user_id feeds both window
functions and the final aggregation (same partitioning reused — no second
shuffle). Skewed users would concentrate in single window partitions; at
crawl scale the per-user event counts are bounded, and a pathological key
would be salted the same way the extraction path salts urls.
""",
    ]
    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"),
        "w",
    ) as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
