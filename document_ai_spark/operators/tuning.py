"""Hyperparameter sweep over the classifier thresholds + best-config
selection per metric — the graft of the reference's random-search tuner
(/root/reference/ai_documents/analysis/cv/tuning.py:291-345 iteration loop,
:347-397 parse_random_search_results keep-max-per-metric).

Design for scale:
  - ONE pass over the corpus evaluates EVERY config: decode+tokenize (the
    expensive kernel stages) run once per document; only the cheap
    classify+assemble step repeats per config. The reference re-runs the
    whole OCR batch per sampled config (tuning.py:295-299) — at 10^12 docs
    that multiplier is the difference between feasible and not.
  - The sweep log is a DataFrame (config params x metric values), and
    best-per-metric is max_by over that log (A7), not a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..kernel.charset import decode_html
from ..kernel.classify import ClassifierConfig, classify_blocks
from ..kernel.extract import ERR_NONE, ERR_TRUNCATED, MAX_HTML_BYTES
from ..kernel.tokenizer import tokenize_blocks
from ..session import local_frame

SWEPT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("config_id", T.IntegerType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("parse_ok", T.BooleanType()),
    ]
)

# default sweep grid: config 0 IS the frozen policy (ties select it)
DEFAULT_GRID = [
    ClassifierConfig(),                      # frozen: w_min=10, 1/3
    ClassifierConfig(w_min=5),
    ClassifierConfig(w_min=20),
    ClassifierConfig(w_min=40),
    ClassifierConfig(ld_num=1, ld_den=2),    # laxer link density
    ClassifierConfig(ld_num=1, ld_den=6),    # stricter link density
]


def _sweep_one(raw: bytes | None, configs: list[ClassifierConfig]):
    """(main_text, parse_ok) per config for one page — decode+tokenize once,
    classify per config. PDF/None pages are config-independent and skipped
    here (the sweep tunes only the HTML classifier)."""
    if raw is None or raw.startswith(b"%PDF-"):
        return None
    try:
        if len(raw) > MAX_HTML_BYTES:
            raw = raw[:MAX_HTML_BYTES]
            err = ERR_TRUNCATED
        else:
            err = ERR_NONE
        text, _charset = decode_html(raw)
        blocks = tokenize_blocks(text)
        out = []
        for cfg in configs:
            flags = classify_blocks(blocks, cfg)
            parts = [b.text for b, keep in zip(blocks, flags) if keep]
            out.append(("\n\n".join(parts), err == ERR_NONE))
        return out
    except Exception:
        return [("", False)] * len(configs)


def sweep_extractions(
    pages: DataFrame, configs: list[ClassifierConfig] | None = None
) -> DataFrame:
    """pages(url, html) -> (url, config_id, main_text, parse_ok): every
    config evaluated in a single corpus pass."""
    configs = list(configs or DEFAULT_GRID)

    def _batches(batches):
        import pyarrow as pa

        for b in batches:
            urls = b.column(b.schema.get_field_index("url")).to_pylist()
            htmls = b.column(b.schema.get_field_index("html")).to_pylist()
            o_url, o_cid, o_text, o_ok = [], [], [], []
            for url, raw in zip(urls, htmls):
                per_cfg = _sweep_one(raw, configs)
                if per_cfg is None:
                    continue
                for cid, (txt, ok) in enumerate(per_cfg):
                    o_url.append(url)
                    o_cid.append(cid)
                    o_text.append(txt)
                    o_ok.append(ok)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_url, pa.string()),
                    pa.array(o_cid, pa.int32()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_ok, pa.bool_()),
                ],
                names=["url", "config_id", "main_text", "parse_ok"],
            )

    return pages.select("url", "html").mapInArrow(
        _batches, schema=SWEPT_SCHEMA
    )


def config_grid_df(spark, configs: list[ClassifierConfig]) -> DataFrame:
    return local_frame(
        spark,
        [
            (i, c.w_min, c.ld_num, c.ld_den)
            for i, c in enumerate(configs)
        ],
        "config_id BIGINT, w_min BIGINT, ld_num BIGINT, ld_den BIGINT",
    )


def sweep_log(
    swept: DataFrame, golden: DataFrame,
    configs_df: DataFrame,
) -> DataFrame:
    """Join swept extractions vs golden text -> one log row per config with
    its metrics (the analog of the tuner's results JSONL)."""
    g = golden.select(
        "url", F.col("expected_text").alias("golden_text")
    )
    j = swept.join(g, "url")
    log = j.groupBy("config_id").agg(
        F.round(
            F.avg((F.col("main_text") == F.col("golden_text")).cast("int")),
            6,
        ).alias("content_accuracy"),
        F.round(F.avg((~F.col("parse_ok")).cast("int")), 6).alias(
            "parse_fail_rate"
        ),
        F.round(F.avg(F.length("main_text")), 6).alias("mean_chars"),
    )
    return log.join(F.broadcast(configs_df), "config_id")


def best_config_per_metric(
    log: DataFrame, metrics: list[str] | None = None
) -> DataFrame:
    """A7: per metric, the config with the maximum value (ties -> lowest
    config_id, so the frozen config wins exact ties)."""
    metrics = metrics or ["content_accuracy", "mean_chars"]
    melted = None
    for m in metrics:
        part = log.select(
            F.lit(m).alias("metric"), F.col(m).alias("value"),
            "config_id", "w_min", "ld_num", "ld_den",
        )
        melted = part if melted is None else melted.unionAll(part)
    win = W.partitionBy("metric").orderBy(
        F.col("value").desc(), F.col("config_id")
    )
    return (
        melted.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("metric", "value", "config_id", "w_min", "ld_num", "ld_den")
    )
