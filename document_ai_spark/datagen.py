"""Deterministic synthetic Common-Crawl-style corpus + golden fixtures.

Mirrors the reference's fixture-first correctness strategy: its golden field
JSONs + ground-truth CSVs (/root/reference/performances.py:122-126;
/root/reference/data/performances_data/...) become here a `pages` table of
exactly the BASELINE.json `input_hint` shape plus `golden_text` /
`golden_spans` / `verdict_truth` tables (FIXTURES.md §§1-4).

Everything is seeded and reproducible. Crucially, `expected_text` is built
from CONSTRUCTION (the article text is chosen first, then wrapped in
nav/ads/footer boilerplate), not by running the extractor — so the golden
comparison is a real oracle. Span fixtures come from the frozen kernel, with
a generation-time assert that kernel text == constructed text.

Case mix per 20 documents (FIXTURES.md §1): 12 clean articles, 2 link farms,
1 giant page, 2 malformed, 2 PDF payloads (every 4th garbage), 1 empty body.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from .kernel.extract import extract_document

_WORDS = (
    "market signal harbor window granite meadow copper lantern river summit "
    "velvet anchor breeze canyon ember forest garden hollow island journey "
    "kernel ladder mirror needle orchard pebble quarry ribbon saddle timber "
    "umbrella valley walnut xylem yonder zephyr archive basket cellar dune"
).split()

_LANGS = ("en", "de", "fr", "es", "zh")

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

CASE_CLEAN = "clean"
CASE_LINKFARM = "linkfarm"
CASE_GIANT = "giant"
CASE_MALFORMED = "malformed"
CASE_PDF = "pdf"
CASE_EMPTY = "empty"

# slot layout for i % 20: 12 clean / 2 linkfarm / 1 giant / 2 malformed /
# 2 pdf / 1 empty  (FIXTURES.md §1 case mix)
_SLOTS = (
    [CASE_CLEAN] * 6
    + [CASE_LINKFARM]
    + [CASE_CLEAN] * 3
    + [CASE_GIANT]
    + [CASE_MALFORMED]
    + [CASE_CLEAN] * 3
    + [CASE_PDF]
    + [CASE_MALFORMED]
    + [CASE_PDF]
    + [CASE_LINKFARM]
    + [CASE_EMPTY]
)
assert len(_SLOTS) == 20


@dataclass
class PageRow:
    url: str
    warc_ts: datetime
    html: bytes
    text: str
    lang: str
    case: str
    expected_text: str | None   # None iff parse expected to fail
    expected_parse_ok: bool
    causes: list[str]


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(_WORDS) for _ in range(n)]


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(_words(rng, rng.randint(lo, hi)))


def _nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{w}">{w.capitalize()}</a></li>'
        for w in _words(rng, rng.randint(4, 8))
    )
    return f"<nav><ul>{items}</ul></nav>"


def _chrome(rng: random.Random, title_word: str,
            noindex: bool = False) -> tuple[str, str]:
    robots_meta = (
        '<meta name="robots" content="noindex">' if noindex else ""
    )
    head = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        + robots_meta
        + f"<title>{title_word} site</title>"
        "<script>var t=1;</script><style>.x{color:red}</style></head><body>"
        + _nav(rng)
        + f"<header><h1>{title_word.upper()} PORTAL</h1></header>"
    )
    ads = "".join(
        f'<div class="ad"><a href="/buy/{w}">Buy {w} now!</a></div>'
        for w in _words(rng, 3)
    )
    tail = (
        f"<aside>{ads}</aside>"
        f"<footer><p>© 2026 {title_word} inc · "
        f'<a href="/tos">terms</a></p></footer></body></html>'
    )
    return head, tail


def _article(rng: random.Random, n_paras: int) -> tuple[str, str]:
    """Return (html_fragment, expected_text). Expected text is what the
    frozen classifier must recover: heading + paragraphs (+ short bridge)."""
    title = " ".join(w.capitalize() for w in _words(rng, rng.randint(3, 5)))
    paras = [_sentence(rng, 14, 40) for _ in range(n_paras)]
    bridge = None
    if n_paras >= 2 and rng.random() < 0.5:
        bridge = _sentence(rng, 3, 7)  # <10 words, no links -> R3 bridge

    html_parts = [f"<article><h1>{title}</h1>"]
    expected = [title]
    for j, p in enumerate(paras):
        decorated = p
        ws = p.split(" ")
        if len(ws) > 6 and rng.random() < 0.6:  # inline markup, no text change
            k = rng.randrange(1, len(ws) - 1)
            ws[k] = f"<b>{ws[k]}</b>"
            decorated = " ".join(ws)
        if len(ws) > 25 and rng.random() < 0.4:  # short inline link
            linkword = rng.choice(_WORDS)
            decorated += f' see <a href="/ref">{linkword}</a>'
            p = p + f" see {linkword}"
        html_parts.append(f"<p>{decorated}</p>")
        expected.append(p)
        if bridge is not None and j == 0 and n_paras >= 2:
            html_parts.append(f"<p>{bridge}</p>")
            expected.append(bridge)
    html_parts.append("</article>")
    return "<main>" + "".join(html_parts) + "</main>", "\n\n".join(expected)


def _page_clean(rng: random.Random, n_paras: int,
                noindex: bool = False) -> tuple[bytes, str]:
    head, tail = _chrome(rng, rng.choice(_WORDS), noindex=noindex)
    art, expected = _article(rng, n_paras)
    return (head + art + tail).encode("utf-8"), expected


def _page_linkfarm(rng: random.Random) -> tuple[bytes, str]:
    head, tail = _chrome(rng, rng.choice(_WORDS))
    links = "".join(
        f'<p><a href="/{w}/{i}">{w} {i} best deals</a></p>'
        for i, w in enumerate(_words(rng, 25))
    )
    return (head + f"<main><div>{links}</div></main>" + tail).encode(
        "utf-8"
    ), ""


def _page_empty(rng: random.Random) -> tuple[bytes, str]:
    head, tail = _chrome(rng, rng.choice(_WORDS))
    return (head + "<main>   \n\t  </main>" + tail).encode("utf-8"), ""


def _page_malformed(rng: random.Random, variant: int) -> tuple[bytes, str]:
    """Five frozen malformation variants; expected text still constructable."""
    title = " ".join(w.capitalize() for w in _words(rng, 3))
    p1 = _sentence(rng, 14, 20)
    p2 = _sentence(rng, 14, 20)
    head, tail = _chrome(rng, rng.choice(_WORDS))
    v = variant % 5
    if v == 0:  # unclosed inline + unclosed <p>
        body = f"<main><h1>{title}</h1><p><b>{p1}<p>{p2}</p></main>"
        expected = "\n\n".join([title, p1, p2])
        return (head + body + tail).encode("utf-8"), expected
    if v == 1:  # unknown entity survives verbatim
        p1e = p1 + " &nosuch; trailing words appended here ok"
        body = f"<main><h1>{title}</h1><p>{p1e}</p><p>{p2}</p></main>"
        expected = "\n\n".join([title, p1e, p2])
        return (head + body + tail).encode("utf-8"), expected
    if v == 2:  # declared cp1252, really cp1252 bytes with accents
        p1a = p1 + " café naïve — résumé über"
        body = f"<main><h1>{title}</h1><p>{p1a}</p><p>{p2}</p></main>"
        page = head.replace('charset="utf-8"', 'charset="windows-1252"')
        return (page + body + tail).encode("cp1252"), "\n\n".join(
            [title, p1a, p2]
        )
    if v == 3:  # invalid utf-8, no usable declaration -> cp1252 fallback
        p1a = p1 + " café été"
        body = f"<main><h1>{title}</h1><p>{p1a}</p><p>{p2}</p></main>"
        page = head.replace('<meta charset="utf-8">', "") + body + tail
        return page.encode("cp1252"), "\n\n".join([title, p1a, p2])
    # v == 4: stray '<' in text is literal
    p1a = p1 + " where 5 < 6 and a < b always"
    body = f"<main><h1>{title}</h1><p>{p1a}</p><p>{p2}</p></main>"
    expected = "\n\n".join([title, p1a, p2])
    return (head + body + tail).encode("utf-8"), expected


def _page_pdf(rng: random.Random, garbage: bool) -> tuple[bytes, str | None]:
    if garbage:
        return b"%PDF-1.4\n<< not a real pdf >>\n%%EOF", None
    n_lines = rng.randint(3, 8)
    lines = [_sentence(rng, 4, 9) for _ in range(n_lines)]
    if n_lines >= 2:
        lines[1] = lines[1] + " (parenthetical)"
    stream_parts = []
    y = 700
    for ln in lines:
        esc = ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        stream_parts.append(f"BT /F1 12 Tf 72 {y} Td ({esc}) Tj ET")
        y -= 20
    body = "\n".join(stream_parts)
    pdf = (
        "%PDF-1.4\n1 0 obj << /Length "
        + str(len(body))
        + " >>\nstream\n"
        + body
        + "\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    )
    return pdf.encode("latin-1"), "\n".join(lines)


def gen_rows(n_docs: int, seed: int = 42, giant_paras: int = 150,
             start: int = 0,
             clean_paras: tuple[int, int] = (3, 8)) -> list[PageRow]:
    """Generate page rows [start, start+n_docs). Row i is a pure function of
    (seed, i) so shards can be generated independently and in parallel."""
    rows: list[PageRow] = []
    for i in range(start, start + n_docs):
        rng = random.Random((seed << 20) ^ i)
        case = _SLOTS[i % 20]
        expected: str | None
        causes: list[str] = []
        parse_ok = True
        if case == CASE_CLEAN:
            # every 40th doc (slot 4 is always CLEAN) declares robots
            # noindex in its head: extraction and goldens are unaffected
            # (head content never reaches the article text), but the
            # --respect-noindex / pipeline gate has real rows to drop
            html, expected = _page_clean(
                rng, rng.randint(*clean_paras), noindex=(i % 40 == 4)
            )
        elif case == CASE_LINKFARM:
            html, expected = _page_linkfarm(rng)
            causes.append("empty_main_text")
        elif case == CASE_GIANT:
            html, expected = _page_clean(rng, giant_paras)
        elif case == CASE_MALFORMED:
            # slots 11 and 16: cycle all 5 variants across documents
            variant = (i // 20) * 2 + (1 if i % 20 == 16 else 0)
            html, expected = _page_malformed(rng, variant)
        elif case == CASE_EMPTY:
            html, expected = _page_empty(rng)
            causes.append("empty_main_text")
        else:  # CASE_PDF (slots 15 and 17); 1-in-4 of slot-17 PDFs is garbage
            garbage = (i % 20 == 17) and ((i // 20) % 4 == 3)
            html, expected = _page_pdf(rng, garbage)
            if expected is None:
                parse_ok = False
                # order matches operators/validation.py cause array order
                causes.extend(["parse_failed", "pdf_parse_failed"])
        # noisy whole-page text column (NOT the expected extraction)
        noisy = _sentence(rng, 10, 30)
        rows.append(
            PageRow(
                url=f"https://site-{i % 97}.example/a/{i}",
                warc_ts=_EPOCH + timedelta(seconds=i * 37),
                html=html,
                text=noisy,
                lang=_LANGS[i % len(_LANGS)],
                case=case,
                expected_text=expected,
                expected_parse_ok=parse_ok,
                causes=causes,
            )
        )
    return rows


def write_corpus(out_dir: str, n_docs: int, seed: int = 42,
                 giant_paras: int = 150, verify: bool = True) -> dict:
    """Write pages/golden_text/golden_spans/verdict_truth parquet via pyarrow
    (no Spark needed). Returns summary stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(out_dir, exist_ok=True)
    rows = gen_rows(n_docs, seed=seed, giant_paras=giant_paras)

    span_rows = []
    n_checked = 0
    for r in rows:
        res = extract_document(r.html)
        if verify and r.expected_text is not None:
            assert res.main_text == r.expected_text, (
                f"golden self-check failed for {r.url} ({r.case}):\n"
                f"got:      {res.main_text[:300]!r}\n"
                f"expected: {r.expected_text[:300]!r}"
            )
            n_checked += 1
        for s in res.spans:
            span_rows.append(
                (r.url, s.span_id, s.start, s.end, s.block_id, s.kind)
            )

    pages = pa.table(
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
    pq.write_table(pages, os.path.join(out_dir, "pages.parquet"))

    golden_text = pa.table(
        {
            "url": [r.url for r in rows],
            "expected_text": [r.expected_text for r in rows],
            "expected_parse_ok": [r.expected_parse_ok for r in rows],
        }
    )
    pq.write_table(golden_text, os.path.join(out_dir, "golden_text.parquet"))

    golden_spans = pa.table(
        {
            "url": pa.array([s[0] for s in span_rows]),
            "span_id": pa.array([s[1] for s in span_rows], type=pa.int32()),
            "start": pa.array([s[2] for s in span_rows], type=pa.int32()),
            "end": pa.array([s[3] for s in span_rows], type=pa.int32()),
            "block_id": pa.array([s[4] for s in span_rows], type=pa.int32()),
            "kind": pa.array([s[5] for s in span_rows]),
        }
    )
    pq.write_table(golden_spans, os.path.join(out_dir, "golden_spans.parquet"))

    verdict = pa.table(
        {
            "url": [r.url for r in rows],
            "validated": [
                r.expected_parse_ok and bool(r.expected_text) for r in rows
            ],
            "causes": pa.array(
                [r.causes for r in rows], type=pa.list_(pa.string())
            ),
        }
    )
    pq.write_table(verdict, os.path.join(out_dir, "verdict_truth.parquet"))

    total_bytes = sum(len(r.html) for r in rows)
    return {
        "n_docs": len(rows),
        "n_goldens_checked": n_checked,
        "total_html_bytes": total_bytes,
        "out_dir": out_dir,
    }
