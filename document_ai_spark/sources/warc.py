"""WARC source: Common Crawl's native archive format -> the pages table.

A WARC file is a sequence of records (`WARC/1.0\\r\\n` header block,
blank line, Content-Length payload bytes, blank line); `.warc.gz` files
are concatenated per-record gzip members (GzipFile reads members
sequentially, so the same streaming parser covers both). Only
`WARC-Type: response` records become pages: the HTTP response payload is
split at its header/body boundary, `WARC-Target-URI` is the url and
`WARC-Date` (ISO-8601) the warc_ts.

Scale shape — the standard Spark-over-Common-Crawl grain:
  - one ~1 GB WARC file per task: the file LIST is the distributed
    dataset (an Arrow-built local frame, repartitioned), each task
    streams its file record-by-record (bounded memory: one record at a
    time, batches of rows yielded every BATCH_RECORDS),
  - the parser is total: malformed records are skipped and counted, a
    malformed FILE yields an error row instead of failing the task,
  - output is exactly the engine's pages schema, so `extract_pages`,
    `page_flags`, dedup and the rest compose unchanged.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

BATCH_RECORDS = 256
MAX_PAYLOAD_BYTES = 64 * 1024 * 1024  # skip absurd records, keep totality

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_ok", T.BooleanType()),
        T.StructField("err", T.StringType()),
    ]
)


def _parse_warc_stream(fh, name: str,
                       record_type: bytes = b"response") -> Iterator[tuple]:
    """Yield (url, warc_ts, payload-body, name, ok, err) per record of
    `record_type` ('response' for WARC crawls, 'conversion' for WET).
    Total: malformed records yield an error row and scanning continues at
    the next well-formed header."""
    while True:
        line = fh.readline()
        if not line:
            return
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            # desync: skip until the next record header
            continue
        headers: dict[bytes, bytes] = {}
        while True:
            h = fh.readline()
            if not h or h.strip() == b"":
                break
            if b":" in h:
                k, _, v = h.partition(b":")
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            yield (None, None, None, name, False, "bad_content_length")
            continue
        if length < 0 or length > MAX_PAYLOAD_BYTES:
            yield (None, None, None, name, False, "bad_payload_size")
            continue
        payload = fh.read(length)
        if len(payload) < length:
            yield (None, None, None, name, False, "truncated_record")
            return
        # record-terminating CRLFs are consumed by the outer loop's
        # blank-line skip — reading them here would eat the next record's
        # header when a malformed record omits its separators
        if headers.get(b"warc-type", b"").lower() != record_type:
            continue  # other record types carry no page for this reader
        uri = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace"
        )
        ts = None
        try:
            raw_date = headers.get(b"warc-date", b"").decode("ascii")
            ts = dt.datetime.fromisoformat(raw_date.replace("Z", "+00:00"))
            if ts.tzinfo is not None:
                # convert non-UTC offsets (they occur in real archives)
                # instead of stripping them — a +02:00 record otherwise
                # shifts event time by two hours
                ts = ts.astimezone(dt.timezone.utc)
            ts = ts.replace(tzinfo=None)
        except ValueError:
            pass
        if record_type == b"response":
            # HTTP response payload: headers end at the first CRLFCRLF
            sep = payload.find(b"\r\n\r\n")
            body = payload[sep + 4 :] if sep >= 0 else payload
        else:
            body = payload  # conversion (WET) payloads are bare text
        if not uri or ts is None:
            yield (None, None, None, name, False, "missing_warc_headers")
            continue
        yield (uri, ts, body, name, True, "")


def _read_warc_batches(it, record_type: bytes = b"response"):
    import pyarrow as pa

    def flush(rows):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([r[0] for r in rows], pa.string()),
                pa.array([r[1] for r in rows], pa.timestamp("us")),
                pa.array([r[2] for r in rows], pa.binary()),
                pa.array([r[3] for r in rows], pa.string()),
                pa.array([r[4] for r in rows], pa.bool_()),
                pa.array([r[5] for r in rows], pa.string()),
            ],
            names=[f.name for f in WARC_PAGES_SCHEMA.fields],
        )

    for b in it:
        for path in b.column(0).to_pylist():
            rows: list[tuple] = []
            try:
                # `with` closes the RAW descriptor too — GzipFile.close()
                # alone leaves it open (fd leak across many archives),
                # and a mid-parse exception must not leak it either
                with open(path, "rb") as raw:
                    fh = (
                        gzip.GzipFile(fileobj=raw)
                        if path.endswith(".gz")
                        else io.BufferedReader(raw)
                    )
                    for rec in _parse_warc_stream(fh, path, record_type):
                        rows.append(rec)
                        if len(rows) >= BATCH_RECORDS:
                            yield flush(rows)
                            rows = []
            except Exception as exc:  # error row, never task failure
                rows.append(
                    (None, None, None, path, False,
                     f"warc_open_failed:{type(exc).__name__}")
                )
            if rows:
                yield flush(rows)


def read_warc(spark: SparkSession, paths: list[str],
              num_partitions: int | None = None,
              record_type: str = "response") -> DataFrame:
    """WARC file paths -> pages DataFrame (WARC_PAGES_SCHEMA). Good rows
    (`record_ok`) match the engine's pages schema columns (url, warc_ts,
    html); error rows carry the file + reason for lineage.
    `record_type='conversion'` reads WET archives (html carries the bare
    extracted text bytes)."""
    if not paths:  # empty manifest -> empty frame, not an analysis error
        return local_frame(spark, [], WARC_PAGES_SCHEMA)
    files = local_frame(spark, [(p,) for p in paths], "path string")
    n = max(
        1,
        num_partitions
        or min(len(paths), spark.sparkContext.defaultParallelism),
    )
    rt = record_type.encode()

    def gen(it):
        yield from _read_warc_batches(it, rt)

    return files.repartition(n).mapInArrow(
        gen, schema=WARC_PAGES_SCHEMA
    )


def warc_pages(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Only the well-formed pages, in the exact engine pages shape."""
    from pyspark.sql import functions as F

    return (
        read_warc(spark, paths)
        .filter(F.col("record_ok"))
        .select("url", "warc_ts", "html")
    )


def stage_warc_pages(spark: SparkSession, patterns: str, out_dir: str) -> int:
    """Parse a comma/glob list of .warc(.gz) paths ONCE into a pages
    parquet table at `out_dir` (a pattern matching nothing is kept as a
    literal path). Returns the number of archive paths. Both verbs stage
    the parse before extraction: run_extraction_job re-evaluates its
    source per shard chunk, which would re-parse every archive
    ceil(n_shards/shards_per_commit)+1 times."""
    paths: list[str] = []
    for pat in patterns.split(","):
        paths.extend(sorted(glob.glob(pat)) or [pat])
    warc_pages(spark, paths).write.mode("overwrite").parquet(out_dir)
    return len(paths)
