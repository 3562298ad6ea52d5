"""JSONL.gz training-data exporter — the shard format LLM training
loaders actually consume: one JSON object per line, the whole shard
compressed as ONE gzip stream (cross-record compression context; a gzip
member per ~100-byte record costs ~25 header/trailer bytes each and can
exceed the uncompressed size), files committed through the shared
two-phase staged writer (sources/staged.py).

Default record shape follows the common pretraining convention:
  {"text": ..., "url": ..., "timestamp": ..., "meta": {...extras}}
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from .staged import staged_write


def write_jsonl(
    df: DataFrame,
    out_dir: str,
    text_col: str = "main_text",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    meta_cols: tuple[str, ...] = (),
) -> dict:
    """df -> gzip JSONL shards under `out_dir` (one file per partition,
    `_SUCCESS` on commit). Returns {files, records, bytes}."""
    cols = [url_col, ts_col, text_col, *meta_cols]
    sel = df.select(*cols)

    def rec(row) -> bytes:
        url, ts, text = row[0], row[1], row[2]
        obj = {
            "text": text or "",
            "url": url,
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts else None,
        }
        if meta_cols:
            obj["meta"] = {k: v for k, v in zip(meta_cols, row[3:])}
        # default=str keeps the sink total: timestamp/binary/decimal meta
        # columns serialize as strings instead of failing the task
        return json.dumps(
            obj, ensure_ascii=False, default=str
        ).encode("utf-8") + b"\n"

    return staged_write(sel, out_dir, rec, ".jsonl.gz", stream_gzip=True)
