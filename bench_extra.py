"""Extra benchmarks for the optimization rounds (guide §1) — bench.py is
FROZEN for measurement, so everything exploratory lives here. Timing A/Bs
use `perfbench/run.py` (fresh, cold, alternating samples), not this file.

Modes:
  python bench_extra.py plans OUTDIR [--suffix _before] [--names ...]
      Dump `.explain("formatted")` for each named query (default: the
      18 headline queries) to OUTDIR/<name><suffix>.txt.
  python bench_extra.py noop NAME [--repeat N]
      Isolate one query with the noop sink (computes every column,
      discards the result) — separates computation from the count()
      short-circuit for plan work.

The JSON output of `noop` carries `cds`, the driver JVM's class-archive
state (absent / created / reused), `young_max_mb`, its young-generation
cap, and `gc` (`count`, `ms`), its collections over the run
(`session.session_report` in document_ai_spark/session.py).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "extract_article", "extract_validate", "pricing_summary",
    "region_revenue", "top_order_per_customer", "sessionize",
    "asof_last_view", "running_value", "dedup_exact",
    "minhash_signatures", "ngram_jaccard_probe", "ann_cosine_topk",
    "text_metrics", "simhash", "winnow_fingerprint",
    "next_right_word_2d", "best_config", "curation_funnel",
]


def _session():
    from document_ai_spark.session import get_spark

    return get_spark(
        app_name="bench-extra", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def cmd_plans(out_dir: str, suffix: str, names: list[str]) -> int:
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    qs = _registry()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}{suffix}.txt")
    spark.stop()
    return 0


def cmd_noop(name: str, repeat: int) -> int:
    from document_ai_spark.session import session_report

    spark = _session()
    qs = _registry()
    walls = []
    for r in range(repeat):
        spark.sparkContext.setJobDescription(f"noop:{name}:r{r}")
        df = qs[name](spark, SF_DIR)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 2))
    report = session_report(spark)
    spark.stop()
    print(json.dumps({"name": name, **report, "noop_walls": walls}))
    return 0


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    mode = sys.argv[1]
    args = sys.argv[2:]
    repeat = 1
    names = list(HEADLINE)
    suffix = ""
    pos = []
    i = 0
    while i < len(args):
        if args[i] == "--repeat":
            repeat = int(args[i + 1])
            i += 2
        elif args[i] == "--names":
            names = args[i + 1].split(",")
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        else:
            pos.append(args[i])
            i += 1
    if mode == "plans":
        return cmd_plans(pos[0], suffix, names)
    if mode == "noop":
        return cmd_noop(pos[0], repeat)
    print(f"unknown mode {mode}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
