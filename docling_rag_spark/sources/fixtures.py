"""Authored fixture documents + minimal PDF builders (no external data).

Mirrors the reference test corpus: the e2e markdown doc
(tests/test_integration.py:22-27), hand-built digital/scan PDF shapes
(tests/pdf_fixtures.py — reimplemented here from the PDF spec, not copied),
HTML pages with known boilerplate/main-content splits, long >budget sections,
degenerate/empty docs, and a Cyrillic doc for byte-span safety.
"""

from __future__ import annotations

import zlib

# --- minimal PDF writer -------------------------------------------------------


def _pdf_assemble(bodies: list[bytes]) -> bytes:
    """Serialize numbered objects + xref + trailer into a valid PDF file."""
    buf = bytearray(b"%PDF-1.4\n")
    positions: list[int] = []
    for num, body in enumerate(bodies, start=1):
        positions.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(bodies) + 1)
    buf += b"".join(b"%010d 00000 n \n" % p for p in positions)
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(bodies) + 1, xref_at))
    return bytes(buf)


def _pdf_escape(s: str) -> bytes:
    return (s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
            .encode("latin-1", errors="replace"))


def build_text_pdf(page_texts: list[str], compress: bool = False) -> bytes:
    """Digital PDF: one page per entry, each line a separate text-show op.

    Object layout (differs from the reference generator on purpose):
    1=Catalog, 2=Pages, 3=Font, then alternating (page, content) pairs.
    """
    n = len(page_texts)
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n))
    bodies: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (n, kids),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, text in enumerate(page_texts):
        page_num = 4 + 2 * i
        ops = [b"BT /F1 11 Tf 40 760 Td 14 TL"]
        for line in text.split("\n"):
            ops.append(b"(" + _pdf_escape(line) + b") Tj T*")
        ops.append(b"ET")
        stream = b" ".join(ops)
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        bodies.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % (page_num + 1)
        )
        bodies.append(b"<< /Length %d%s >>\nstream\n" % (len(stream), filt)
                      + stream + b"\nendstream")
    return _pdf_assemble(bodies)


def build_kerned_pdf(page_texts: list[str]) -> bytes:
    """Digital PDF whose lines are shown as TJ kerning arrays — the shape
    nearly every professionally-set PDF uses. Words are separated by a
    -250 adjustment (an implicit word gap, no space character in any
    string) and words past 6 chars split mid-word with a -20 kern, so the
    extractor must join sub-strings seamlessly and re-derive spaces from
    large adjustments to recover the original line."""
    n = len(page_texts)
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n))
    bodies: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (n, kids),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, text in enumerate(page_texts):
        page_num = 4 + 2 * i
        ops = [b"BT /F1 11 Tf 40 760 Td 14 TL"]
        for line in text.split("\n"):
            elems: list[bytes] = []
            for w, word in enumerate(line.split(" ")):
                if w:
                    elems.append(b"-250")
                if len(word) > 6:
                    elems.append(b"(" + _pdf_escape(word[:4]) + b")")
                    elems.append(b"-20")
                    elems.append(b"(" + _pdf_escape(word[4:]) + b")")
                else:
                    elems.append(b"(" + _pdf_escape(word) + b")")
            ops.append(b"[" + b" ".join(elems) + b"] TJ T*")
        ops.append(b"ET")
        stream = b" ".join(ops)
        bodies.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % (page_num + 1))
        bodies.append(b"<< /Length %d >>\nstream\n" % len(stream)
                      + stream + b"\nendstream")
    return _pdf_assemble(bodies)


def build_scan_pdf(pages: int = 1) -> bytes:
    """PDF whose pages carry no text ops at all — emulates a raster scan."""
    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(pages))
    bodies: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (pages, kids),
    ]
    for _ in range(pages):
        bodies.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
    return _pdf_assemble(bodies)


# --- fixture documents ----------------------------------------------------------

# The reference's e2e document, verbatim (tests/test_integration.py:22-27).
E2E_MARKDOWN = (
    "# Database Architecture\n\n"
    "The DWH uses a star schema with fact and dimension tables.\n\n"
    "## SQL Example\n\n"
    "```sql\nSELECT customer_id, SUM(amount)\nFROM fact_sales\nGROUP BY customer_id;\n```\n"
)

# HTML article: known main content wrapped in heavy boilerplate (nav, sidebar,
# footer, link farms). Golden extraction = headings + paragraphs + code only.
HTML_ARTICLE = """<!DOCTYPE html>
<html><head><title>Ignore me</title><style>body{color:red}</style></head>
<body>
<nav><a href="/">Home</a> <a href="/a">Products</a> <a href="/b">Pricing</a></nav>
<div class="sidebar"><ul><li><a href="/x">Link one</a></li><li><a href="/y">Link two</a></li></ul></div>
<article>
<h1>Query Engines</h1>
<p>A query engine turns declarative plans into physical operators that scan,
filter and join relations at scale.</p>
<h2>Vectorized Execution</h2>
<p>Vectorized engines process batches of rows at a time, amortizing dispatch
cost and keeping data in CPU caches for longer.</p>
<pre>for batch in scan:
    emit(filter(batch))</pre>
<ul><li>columnar layout beats row-at-a-time for analytics</li>
<li>late materialization avoids touching unused columns entirely</li></ul>
</article>
<div id="related-posts"><a href="/1">More articles</a><a href="/2">Subscribe now</a></div>
<footer>Copyright 2026 Example Corp. <a href="/tos">Terms</a></footer>
</body></html>
"""

HTML_TABLE_PAGE = """<html><body>
<h1>Latency Numbers</h1>
<p>The table below lists representative storage latencies used throughout the text.</p>
<table>
<tr><th>Medium</th><th>Latency</th></tr>
<tr><td>L1 cache</td><td>1 ns</td></tr>
<tr><td>SSD read</td><td>150 us</td></tr>
</table>
</body></html>
"""

CYRILLIC_MARKDOWN = (
    "# Архитектура хранилища\n\n"
    "Хранилище использует схему «звезда» с таблицами фактов и измерений.\n\n"
    "Поиск выполняется по косинусной близости векторов.\n"
)

# Russian HTML article: the same page is emitted in utf-8, windows-1251
# (declared via <meta charset>) and koi8-r (NO declaration — exercises the
# lowercase-Cyrillic heuristic). All three must extract byte-identical text.
CYRILLIC_HTML_BODY = """<body>
<nav><a href="/">Главная</a> <a href="/b">Каталог</a></nav>
<article>
<h1>Архитектура хранилища</h1>
<p>Хранилище использует схему звезда с таблицами фактов и измерений,
а поиск выполняется по косинусной близости векторов.</p>
<h2>Дедупликация</h2>
<p>Почти одинаковые документы находятся по совпадению сегментов отпечатка
и проверяются точным расстоянием Хэмминга.</p>
</article>
<footer>Все права защищены</footer>
</body></html>"""


_IANA = {"utf-8": "utf-8", "cp1251": "windows-1251", "koi8_r": "koi8-r"}


def cyrillic_html(encoding: str = "utf-8", declare: bool = False) -> bytes:
    """The Russian article encoded as utf-8 / cp1251 / koi8-r, with or
    without a ``<meta charset>`` declaration (undeclared non-utf8 pages
    exercise the case heuristic)."""
    meta = f'<meta charset="{_IANA[encoding]}">' if declare else ""
    doc = ("<!DOCTYPE html>\n<html><head>" + meta +
           "<title>Архив</title></head>\n" + CYRILLIC_HTML_BODY)
    return doc.encode(encoding)


def koi8_markdown() -> bytes:
    """CYRILLIC_MARKDOWN in koi8-r with no declaration at all — only the
    case heuristic can identify it."""
    return CYRILLIC_MARKDOWN.replace("«", '"').replace("»", '"') \
        .encode("koi8_r")


def long_section_markdown(sentences: int = 160) -> str:
    """One heading + one paragraph far beyond the 512-token budget."""
    body = " ".join(
        f"Sentence number {i} describes partition strategy and shuffle cost."
        for i in range(sentences)
    )
    return f"# Long Section\n\n{body}\n"


DOCX_FIXTURE_ITEMS = [
    ("heading", (1, "Quarterly Extraction Report")),
    ("text", "Throughput grew with partition-aligned writes and salted "
             "repartitioning across executors."),
    ("heading", (2, "Latency Table")),
    ("table", [["stage", "p99"], ["parse", "840ms"], ["write", "120ms"]]),
    ("code", "spark.read.parquet('pages')"),
]


def build_fixture_docx() -> bytes:
    """Authored .docx fixture (golden-checked end-to-end)."""
    from docling_rag_spark.operators.extract_docx import build_docx
    return build_docx(DOCX_FIXTURE_ITEMS)
