"""One benchmark sample: a fresh process that sets up Spark, runs one
workload's timed pass cold, checks the outputs untimed, and writes its
measurements as JSON.

`run.py` starts this file pinned to the host's cores with the checkout on
PYTHONPATH; it is not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

import checks
import spans as tr
from run import DRIVER_MEM, PeakRss

# the 18 headline registry queries, in the order the frozen bench.py runs
# them (copied so that the benchmark's workload cannot drift with it)
HEADLINE = (
    "extract_article", "extract_validate", "pricing_summary",
    "region_revenue", "top_order_per_customer", "sessionize",
    "asof_last_view", "running_value", "dedup_exact", "minhash_signatures",
    "ngram_jaccard_probe", "ann_cosine_topk", "text_metrics", "simhash",
    "winnow_fingerprint", "next_right_word_2d", "best_config",
    "curation_funnel",
)

PROBE_DOCS = 300
PROBE_REPEATS = 3


def kernel_probe() -> float:
    """Single-thread extract_document microseconds per doc over a fixed
    bench-shaped slice, outside Spark: the host-window probe."""
    from document_ai_spark.datagen import gen_rows
    from document_ai_spark.kernel.extract import extract_document

    htmls = [r.html for r in gen_rows(PROBE_DOCS, seed=0,
                                      clean_paras=(8, 25), giant_paras=400)]
    runs = []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        for h in htmls:
            extract_document(h)
        runs.append((time.perf_counter() - t0) / len(htmls) * 1e6)
    return statistics.median(runs)


# the settings the frozen bench.py times the pipeline verb with
PIPELINE_ARGS = dict(
    rules=("dedup", "quality", "neardup"),
    chunk_words=256, chunk_overlap=32,
    n_shards=8, shards_per_commit=8,
    pack_words=2048,
)


def run_pipeline(spark, tracer, inputs, work, corrupt, rss, seed):
    from document_ai_spark.pipeline import run_pipeline as verb

    wd, shards = os.path.join(work, "wd"), os.path.join(work, "shards")
    src = os.path.join(inputs, "pages")
    tags = (tr.tag_pipeline_stages(tracer)
            if tracer.enabled else nullcontext())
    t0 = time.perf_counter()
    with tags, tracer.span("pipeline"):
        summary = verb(spark, src, wd, shards, **PIPELINE_ARGS)
    wall = time.perf_counter() - t0
    peak = rss.stop()
    t0 = time.perf_counter()
    attempted, failed = checks.check_pipeline(inputs, wd, shards, summary,
                                              corrupt)
    check_s = time.perf_counter() - t0
    return {
        "wall_s": wall,
        "peak_rss_mb": peak,
        "op_walls": [wall],  # the verb is one operation
        "attempted": attempted,
        "failed": failed,
        "check_s": check_s,
        "export": summary["stages"].get("export", {}),
    }


def run_queries(spark, tracer, inputs, work, corrupt, rss, seed):
    import __spark_entry__ as entry

    sf = os.path.join(inputs, "sf")
    qs = entry.queries()
    walls, counts, errors = {}, {}, {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{name}"):
                counts[name] = qs[name](spark, sf).count()
        except Exception as exc:  # a failed query counts, the pass goes on
            errors[name] = f"{type(exc).__name__}: {exc}"
        walls[name] = time.perf_counter() - t0
    peak = rss.stop()
    t0 = time.perf_counter()
    attempted, failed = checks.check_queries(
        spark, sf, HEADLINE, qs, entry.oracle_sql(), counts, errors,
        checks.hashed_subset(HEADLINE, seed), corrupt)
    check_s = time.perf_counter() - t0
    return {
        "wall_s": sum(walls.values()),
        "peak_rss_mb": peak,
        "op_walls": list(walls.values()),
        "attempted": attempted,
        "failed": failed,
        "check_s": check_s,
    }


WORKLOADS = {
    "pipeline": run_pipeline,
    "queries": run_queries,
}


# On `queries` the extraction and curate layers run inside headline
# queries: these spans stand for the layer there. Elsewhere a layer's own
# tag does.
LAYER_SPANS = {
    "queries": {
        # both run operators.extraction.extract_pages
        "extraction": ("queries.extract_article", "queries.extract_validate"),
        # curation_flags with neardup_keeper_flags (funnel_counts), and
        # minhash_band_pairs
        "curate": ("queries.curation_funnel", "queries.minhash_signatures"),
    },
}


def layer_metrics(workload: str, log_dir: str, tracer, res: dict) -> dict:
    """Per-layer metrics of a traced sample. Every metric is reported on
    every workload; one whose layer or sub-step does not run there reads 0
    (chunking and export, the extraction commit and the curate collapse on
    `queries`; the queries layer on `pipeline`)."""
    ls = tr.LayerStats(tr.read_event_log(log_dir), tracer)
    spans = LAYER_SPANS.get(workload, {})
    exl = spans.get("extraction", "extraction")
    cul = spans.get("curate", "curate")
    m: dict[str, float] = {}

    ex = ls.totals(exl)
    m.update({
        "extraction.wall_s": ls.wall_s(exl),
        **{f"extraction.{k}": ex[k] for k in (
            "executor_run_s", "executor_cpu_s", "gc_s", "tasks",
            "task_max_over_median", "shuffle_write_mb", "output_mb")},
        "extraction.commit_s": ls.wall_s("extraction.commit"),
        "extraction.driver_s": ls.driver_s(exl),
    })
    cu = ls.totals(cul)
    n, ms = ls.compile(cul)
    m.update({
        "curate.wall_s": ls.wall_s(cul),
        "curate.collapse_s": ls.wall_s("curate.collapse"),
        **{f"curate.{k}": cu[k] for k in (
            "executor_cpu_s", "shuffle_write_mb", "spill_mb", "stages",
            "task_max_over_median")},
        "curate.compile_ms": ms,
        "curate.compile_count": n,
        "curate.driver_s": ls.driver_s(cul),
    })
    ch = ls.totals("chunking")
    exp = res.get("export", {})
    m.update({
        "chunking.chunk_wall_s": ls.wall_s("chunking.chunk"),
        "chunking.pack_wall_s": ls.wall_s("chunking.pack"),
        "chunking.executor_cpu_s": ch["executor_cpu_s"],
        "chunking.shuffle_write_mb": ch["shuffle_write_mb"],
        "export.wall_s": ls.wall_s("export"),
        # the staged writer writes from Python tasks, outside Spark's
        # output metrics: bytes and records come from its commit summary
        "export.output_mb": exp.get("bytes", 0) / 1e6,
        "export.records": exp.get("records", 0),
    })
    for name in HEADLINE:
        layer = f"queries.{name}"
        n, ms = ls.compile(layer)
        q = ls.totals(layer)
        m.update({
            f"{layer}.cold_s": ls.wall_s(layer),
            f"{layer}.compile_ms": ms,
            f"{layer}.driver_s": ls.driver_s(layer),
            f"{layer}.stages": q["stages"],
            f"{layer}.shuffle_write_mb": q["shuffle_write_mb"],
        })
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-golden", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    kernel_us = kernel_probe()
    # this process leads the session run.py started: measure the tree up
    # to the end of the timed pass, not the untimed checks
    rss = PeakRss(os.getsid(0))
    rss.start()

    from document_ai_spark.session import get_spark

    # a fixed-size driver heap: G1 resizing it run by run would dominate
    # the spread of peak_rss_mb
    conf = {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}"}
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        conf.update(tr.event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{args.cores}]",
                      extra_conf=conf)
    setup_s = time.perf_counter() - t0

    tracer = tr.Tracer(spark, enabled=bool(args.trace))
    try:
        res = WORKLOADS[args.workload](spark, tracer, args.inputs,
                                       args.work, args.corrupt_golden, rss,
                                       args.seed)
    finally:
        spark.stop()
    res["setup_s"] = setup_s
    res["kernel_us_per_doc"] = kernel_us
    if args.trace:
        res["layers"] = layer_metrics(args.workload, log_dir, tracer,
                                      res)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
