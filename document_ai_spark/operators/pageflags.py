"""Page-level crawl-policy flags from the HTML head region: robots
noindex/nofollow and the canonical URL — the metadata a crawl pipeline
must honor before a page's text may enter a training corpus.

Policy (deterministic):
  - only the first PRESCAN_BYTES are examined (the head region; same
    spirit as the charset pre-scan window),
  - bytes decode as latin-1 for the scan (meta markup is ASCII; a total
    decode that never raises),
  - `<meta name="robots" content="...">` with either attribute order;
    directives split on commas/whitespace, case-insensitive,
  - `<link rel="canonical" href="...">` with either attribute order;
    first match wins.

One `mapInArrow` stage over (url, html) — regexes compile once per
worker; giant pages cost only the prescan slice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

PRESCAN_BYTES = 8192

_META_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE | re.DOTALL)
_LINK_RE = re.compile(r"<link\b[^>]*>", re.IGNORECASE | re.DOTALL)
_ATTR_RE = re.compile(
    r"""([a-zA-Z\-]+)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)""", re.DOTALL
)


def _attrs(tag: str) -> dict[str, str]:
    out = {}
    for m in _ATTR_RE.finditer(tag):
        v = m.group(2)
        if v[:1] in "\"'":
            v = v[1:-1]
        out[m.group(1).lower()] = v
    return out


def scan_page_flags(raw: bytes | None) -> tuple[bool, bool, str]:
    """(noindex, nofollow, canonical_url) from the head region. Total —
    returns (False, False, '') for anything unscannable."""
    if not raw or raw.startswith(b"%PDF-"):
        return False, False, ""
    head = raw[:PRESCAN_BYTES].decode("latin-1")
    noindex = nofollow = False
    canonical = ""
    for m in _META_RE.finditer(head):
        a = _attrs(m.group(0))
        if a.get("name", "").lower() != "robots":
            continue
        directives = {
            d.strip().lower()
            for d in re.split(r"[,\s]+", a.get("content", ""))
        }
        noindex = noindex or "noindex" in directives or "none" in directives
        nofollow = (
            nofollow or "nofollow" in directives or "none" in directives
        )
    for m in _LINK_RE.finditer(head):
        a = _attrs(m.group(0))
        if a.get("rel", "").lower() == "canonical" and a.get("href"):
            canonical = a["href"]
            break
    return noindex, nofollow, canonical


def _flag_batches(batches):
    import pyarrow as pa

    for b in batches:
        keep = [
            b.column(i)
            for i, f in enumerate(b.schema)
            if f.name != "html"
        ]
        keep_names = [f.name for f in b.schema if f.name != "html"]
        htmls = b.column(b.schema.get_field_index("html")).to_pylist()
        ni: list[bool] = []
        nf: list[bool] = []
        cu: list[str] = []
        for raw in htmls:
            a, c, d = scan_page_flags(raw)
            ni.append(a)
            nf.append(c)
            cu.append(d)
        yield pa.RecordBatch.from_arrays(
            [
                *keep,
                pa.array(ni, pa.bool_()),
                pa.array(nf, pa.bool_()),
                pa.array(cu, pa.string()),
            ],
            names=[*keep_names, "noindex", "nofollow", "canonical_url"],
        )


def page_flags(pages: DataFrame, key_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, html, ...) -> (url[, *key_cols], noindex, nofollow,
    canonical_url). `key_cols` are extra columns carried through the Arrow
    stage untouched — e.g. a per-row key so a caller can gate individual
    crawl rows instead of whole urls."""
    cols = pages.select("url", *key_cols, "html")  # prune before Arrow
    schema = T.StructType(
        [cols.schema["url"]]
        + [cols.schema[k] for k in key_cols]
        + [
            T.StructField("noindex", T.BooleanType()),
            T.StructField("nofollow", T.BooleanType()),
            T.StructField("canonical_url", T.StringType()),
        ]
    )
    return cols.mapInArrow(_flag_batches, schema=schema)


def indexable_pages(pages: DataFrame) -> DataFrame:
    """Filter pages a polite corpus may ingest (the pre-extraction policy
    gate). Gated PER CRAWL ROW, not per url: a url re-crawled with mixed
    flags (older row indexable, newer row noindex) keeps only the rows
    whose own head region allows indexing — a url-keyed semi join would
    keep every row whenever any row passed. The row key is the content
    hash, so identical (url, html) rows share one verdict."""
    from pyspark.sql import functions as F

    keyed = pages.withColumn("_pk", F.xxhash64("url", "html"))
    ok = (
        page_flags(keyed, key_cols=("_pk",))
        .filter("NOT noindex")
        .select("_pk")
        .distinct()
    )
    return keyed.join(ok, "_pk", "left_semi").drop("_pk")


def canonical_dedup(pages: DataFrame) -> DataFrame:
    """Canonical-aware page dedup: mirrors declaring the same
    `<link rel=canonical>` target collapse to ONE page (first by
    (warc_ts, url)). The dedup key is the normalized canonical URL when
    the page declares an absolute one, else the page's own normalized
    URL — composing the head-region scan with the URL canonicalization
    policy (functions/url.py). One flag pass + one uniform-key window.

    The flag side is aggregated to ONE deterministic row per url (max
    canonical) before the join: re-crawled urls otherwise fan out k^2
    rows and can emit the same url under two different keys."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ..functions.url import with_url_columns

    flags = (
        page_flags(pages)
        .groupBy("url")
        .agg(F.max("canonical_url").alias("canonical_url"))
    )
    j = pages.join(flags, "url", "left")
    chosen = F.when(
        F.col("canonical_url").rlike(r"^https?://"),
        F.col("canonical_url"),
    ).otherwise(F.col("url"))
    keyed = with_url_columns(
        j.withColumn("_ckey", chosen), url_col="_ckey"
    )
    w = W.partitionBy("url_norm").orderBy("warc_ts", "url")
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ckey", "url_norm", "host", "domain",
              "canonical_url")
    )
