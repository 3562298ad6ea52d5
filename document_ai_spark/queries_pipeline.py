"""Oracle-checkable extraction-pipeline queries.

The driver's DuckDB oracle can't run our extractor — but it can verify it
end-to-end anyway: we synthesize page HTML *inside the query* from the
`documents` table with deterministic SQL string concatenation, run the real
mapInArrow extraction kernel over the resulting bytes, and the expected
main_text is then a closed-form SQL expression over the same table
(heading || blank line || whitespace-normalized text). Byte-identical
extraction per url — the north-rule invariant — checked by the driver at
sf=0.01 on every round.

Page shapes:
  - article page (default): nav + header chrome, <main> with <h2> heading +
    one dense paragraph (the document text), aside ads, footer.
  - link-farm page (doc_id % 10 == 0 in q_extract_validate): anchors only ->
    empty main_text -> `empty_main_text` cause.
  - PDF payload (q_extract_pdf): a minimal one-line PDF built by string
    concat; the kernel's PDF branch must return exactly that line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extraction import extract_pages
from .operators.metrics import cause_confusion
from .operators.validation import validate_extracted
from .queries import _t
from .queries_base import _norm_text, _SQL_NORM_TEXT, _SQL_WORDS

_HEAD = (
    '<html><head><meta charset="utf-8"><title>t</title>'
    "<script>var x=1;</script></head><body>"
    '<nav><ul><li><a href="/h">Home</a></li>'
    '<li><a href="/a">About Us</a></li></ul></nav>'
    "<header><h1>SITE PORTAL</h1></header>"
)
_TAIL = (
    '<aside><a href="/ad">Buy now cheap deals</a></aside>'
    "<footer><p>copyright notice</p></footer></body></html>"
)


def _heading_expr() -> F.Column:
    return F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"),
        F.lit(" heading title words"),
    )


def _article_pages(d: DataFrame, linkfarm_mod: int | None = None) -> DataFrame:
    """documents -> pages(url, warc_ts, html) with synthesized article HTML;
    rows where doc_id % linkfarm_mod == 0 become link farms instead."""
    article = F.concat(
        F.lit(_HEAD + "<main><h2>"), _heading_expr(),
        F.lit("</h2><p>"), F.col("text"), F.lit("</p></main>"), F.lit(_TAIL),
    )
    if linkfarm_mod is not None:
        farm = F.concat(
            F.lit(_HEAD + "<main>"),
            F.lit('<p><a href="/x">one link</a></p>'
                  '<p><a href="/y">two link</a></p>'),
            F.lit("</main>" + _TAIL),
        )
        html_str = F.when(
            F.col("doc_id") % linkfarm_mod == 0, farm
        ).otherwise(article)
    else:
        html_str = article
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
    )


# Expected main_text for an article page, as SQL (DuckDB dialect).
_SQL_EXPECTED_ARTICLE = (
    "'Doc ' || CAST(doc_id AS VARCHAR) || ' heading title words' || "
    f"chr(10) || chr(10) || {_SQL_NORM_TEXT}"
)


def q_extract_article(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full HTML extraction, byte-checked against closed-form SQL."""
    d = _t(spark, sf_dir, "documents")
    pages = _article_pages(d)
    ex = extract_pages(pages, salted=False)
    return ex.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "main_text",
        F.size("spans").alias("n_spans"),
        "parse_ok",
    )


SQL_EXTRACT_ARTICLE = f"""
SELECT doc_id,
       {_SQL_EXPECTED_ARTICLE} AS main_text,
       2 AS n_spans,
       true AS parse_ok
FROM documents
"""


def q_extract_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF branch: one-line payload built by concat; kernel must return the
    exact line."""
    d = _t(spark, sf_dir, "documents")
    line = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
        F.substring(_norm_text(), 1, 40),
    )
    pdf = F.concat(
        F.lit("%PDF-1.4\n1 0 obj << /Length 0 >>\nstream\n"
              "BT /F1 12 Tf 72 700 Td ("),
        line,
        F.lit(") Tj ET\nendstream\nendobj\n%%EOF\n"),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(pdf, "UTF-8").alias("html"),
    )
    ex = extract_pages(pages, salted=False)
    return ex.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "main_text",
        "parse_ok",
        "charset",
    )


SQL_EXTRACT_PDF = f"""
SELECT doc_id,
       'doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
       substr({_SQL_NORM_TEXT}, 1, 40)
           AS main_text,
       true AS parse_ok,
       'binary' AS charset
FROM documents
"""


def q_extract_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation predicates + cause gathering over a mixed corpus
    (every 10th doc is a link farm -> empty_main_text)."""
    d = _t(spark, sf_dir, "documents")
    pages = _article_pages(d, linkfarm_mod=10)
    validated = validate_extracted(extract_pages(pages, salted=False))
    return validated.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.concat_ws(",", "causes").alias("causes_str"),
        "validated",
    )


SQL_EXTRACT_VALIDATE = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN 'empty_main_text' ELSE '' END
           AS causes_str,
       doc_id % 10 <> 0 AS validated
FROM documents
"""


def q_extract_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cause_confusion harness (A1/J1/J8) over the mixed corpus, against a
    rule-derived truth table."""
    d = _t(spark, sf_dir, "documents")
    pages = _article_pages(d, linkfarm_mod=10)
    pred = validate_extracted(extract_pages(pages, salted=False)).select(
        "url", "causes"
    )
    truth = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.when(
            F.col("doc_id") % 10 == 0, F.array(F.lit("empty_main_text"))
        ).otherwise(F.array().cast("array<string>")).alias("causes"),
    )
    cm = cause_confusion(pred, truth)
    return cm.select(
        "cause", "tp", "fp", "tn", "fn",
        F.round("accuracy", 6).alias("accuracy"),
    )


SQL_EXTRACT_CONFUSION = """
WITH n AS (SELECT COUNT(*) AS total,
                  SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS farms
           FROM documents)
SELECT c.cause,
       CAST(CASE WHEN c.cause = 'empty_main_text' THEN farms ELSE 0 END
            AS BIGINT) AS tp,
       CAST(0 AS BIGINT) AS fp,
       CAST(CASE WHEN c.cause = 'empty_main_text' THEN total - farms
            ELSE total END AS BIGINT) AS tn,
       CAST(0 AS BIGINT) AS fn,
       CAST(1.0 AS DOUBLE) AS accuracy
FROM (SELECT unnest(['parse_failed','pdf_parse_failed','truncated_page',
                     'empty_main_text','low_density']) AS cause) c, n
"""

def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span offsets (W5 cumulative offsets + M6 posexplode) oracle-checked
    in closed form: the article page yields exactly one heading span and one
    text span with computable offsets."""
    d = _t(spark, sf_dir, "documents")
    pages = _article_pages(d)
    ex = extract_pages(pages, salted=False)
    return ex.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        F.col("s.span_id").cast("long").alias("span_id"),
        F.col("s.start").cast("long").alias("start"),
        F.col("s.end").cast("long").alias("end"),
        F.col("s.kind").alias("kind"),
    )


SQL_EXTRACT_SPANS = f"""
WITH base AS (
  SELECT doc_id,
         length('Doc ' || CAST(doc_id AS VARCHAR) || ' heading title words')
             AS hlen,
         length({_SQL_NORM_TEXT}) AS tlen
  FROM documents)
SELECT doc_id, CAST(0 AS BIGINT) AS span_id, CAST(0 AS BIGINT) AS start,
       CAST(hlen AS BIGINT) AS "end", 'heading' AS kind
FROM base
UNION ALL
SELECT doc_id, 1, CAST(hlen + 2 AS BIGINT), CAST(hlen + 2 + tlen AS BIGINT),
       'text' FROM base
"""


def q_extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block debug surface over the synthesized article pages: the
    block sequence of that page shape is closed-form (7 blocks: two nav
    li's, the h1 site header, the h2 heading, the body paragraph, the
    aside ad, the footer p), so every feature the tokenizer computes and
    every classifier decision is oracle-checked per document."""
    from .operators.extraction import extract_blocks

    d = _t(spark, sf_dir, "documents")
    pages = _article_pages(d)
    blk = extract_blocks(pages)
    return blk.select(
        F.col("url").cast("bigint").alias("doc_id"),
        "block_id", "tag", "depth", "text_len", "link_text_len",
        "n_words", "is_heading", "in_chrome", "accepted",
    )


# closed-form per-block expectations for the article page shape; the only
# doc-dependent features are the h2 heading length (24 + digits of doc_id)
# and the paragraph (normalized text length / word count, accepted by R1
# iff >= 10 words, which also drives the h2's R2 promotion)
SQL_EXTRACT_BLOCKS = f"""
WITH f AS (
  SELECT doc_id,
         length({_SQL_NORM_TEXT}) AS p_len,
         len({_SQL_WORDS})
             AS p_words
  FROM documents)
SELECT doc_id, block_id, tag, depth, text_len, link_text_len, n_words,
       is_heading, in_chrome, accepted
FROM f, (VALUES
  (0, 'li', 5, 4, 4, 1, false, true),
  (1, 'li', 5, 8, 8, 2, false, true),
  (2, 'h1', 4, 11, 0, 2, true, true),
  (3, 'h2', 4, NULL, 0, 5, true, false),
  (4, 'p', 4, NULL, 0, NULL, false, false),
  (5, 'aside', 3, 19, 19, 4, false, true),
  (6, 'p', 4, 16, 0, 2, false, true)
) AS b(block_id, tag, depth, tl, link_text_len, nw, is_heading, in_chrome),
LATERAL (SELECT
  CAST(CASE WHEN b.block_id = 3
            THEN 24 + length(CAST(doc_id AS VARCHAR))
            WHEN b.block_id = 4 THEN p_len
            ELSE b.tl END AS INT) AS text_len,
  CAST(COALESCE(b.nw, p_words) AS INT) AS n_words,
  CASE WHEN b.block_id IN (3, 4) THEN p_words >= 10
       ELSE false END AS accepted) x
"""
