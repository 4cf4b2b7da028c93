"""Fixture builders only the tests use: PDF shapes for the extractor's
edge cases (UTF-16 text shows, object streams, an inflate bomb), the
chunker's small-peers document and the HTML article's expected blocks.

The fixture documents the package itself needs (the pages generator and
the extraction queries) stay in ``docling_rag_spark.sources.fixtures``."""

from __future__ import annotations

import zlib

from docling_rag_spark.sources.fixtures import _pdf_assemble, _pdf_escape


def build_unicode_pdf(page_texts: list[str]) -> bytes:
    """Digital PDF whose text shows are UTF-16BE hex strings (<FEFF…> Tj) —
    the shape non-Latin real-crawl PDFs use."""
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
            hx = (b"\xfe\xff" + line.encode("utf-16-be")).hex().upper()
            ops.append(b"<" + hx.encode("ascii") + b"> Tj T*")
        ops.append(b"ET")
        stream = b" ".join(ops)
        bodies.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % (page_num + 1))
        bodies.append(b"<< /Length %d >>\nstream\n" % len(stream)
                      + stream + b"\nendstream")
    return _pdf_assemble(bodies)


def _png_up_filter(data: bytes, cols: int) -> bytes:
    """Forward PNG Up-filter (predictor 12) for fixture construction."""
    out = bytearray()
    prev = bytes(cols)
    for r in range(0, len(data), cols):
        row = data[r:r + cols].ljust(cols, b"\x00")
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    return bytes(out)


def build_objstm_pdf(page_texts: list[str], predictor: bool = False) -> bytes:
    """PDF 1.5-style file: catalog/pages/page dictionaries live inside a
    Flate-compressed /Type /ObjStm (optionally PNG-Up-predicted), content
    streams as direct objects — the compressed-xref-era layout that
    dominates Common Crawl."""
    n = len(page_texts)
    # inner (compressed) objects: 10=catalog, 11=pages, 12..=page dicts
    kids = b" ".join(b"%d 0 R" % (12 + i) for i in range(n))
    inner = [
        (10, b"<< /Type /Catalog /Pages 11 0 R >>"),
        (11, b"<< /Type /Pages /Count %d /Kids [ %s ] >>" % (n, kids)),
    ]
    for i in range(n):
        inner.append((12 + i,
                      b"<< /Type /Page /Parent 11 0 R"
                      b" /MediaBox [0 0 612 792] /Contents %d 0 R >>"
                      % (2 + i)))
    header = b" ".join(b"%d %d" % (num, off) for num, off in
                       _objstm_offsets(inner))
    payload = header + b"\n" + b"".join(b for _, b in inner)
    first = len(header) + 1
    raw = payload
    parms = b""
    if predictor:
        cols = 64
        raw = _png_up_filter(raw, cols)
        parms = b" /DecodeParms << /Predictor 12 /Columns %d >>" % cols
    comp = zlib.compress(raw)
    bodies: list[bytes] = [
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode%s"
        b" /Length %d >>\nstream\n" % (len(inner), first, parms, len(comp))
        + comp + b"\nendstream",
    ]
    for text in page_texts:
        ops = [b"BT /F1 11 Tf 40 760 Td 14 TL"]
        for line in text.split("\n"):
            ops.append(b"(" + _pdf_escape(line) + b") Tj T*")
        ops.append(b"ET")
        stream = b" ".join(ops)
        bodies.append(b"<< /Length %d >>\nstream\n" % len(stream)
                      + stream + b"\nendstream")
    return _pdf_assemble(bodies)


def _objstm_offsets(inner: list[tuple[int, bytes]]) -> list[tuple[int, int]]:
    offs, pos = [], 0
    for num, body in inner:
        offs.append((num, pos))
        pos += len(body)
    return offs


def build_bomb_pdf() -> bytes:
    """A page whose content stream inflates to ~80 MiB from a few KB —
    must hit the 64 MiB inflate cap and fail-soft to an empty page."""
    bomb = zlib.compress(b"(" + b"A" * (80 * 1024 * 1024) + b") Tj",
                         level=9)
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(bomb)
        + bomb + b"\nendstream",
    ]
    return _pdf_assemble(bodies)


def small_peers_markdown() -> str:
    """Several small same-heading paragraphs — the chunker must merge them."""
    paras = "\n\n".join(f"Short paragraph {i} fits easily." for i in range(5))
    return f"# Peers\n\n{paras}\n"


# The blocks the extractor must recover from fixtures.HTML_ARTICLE.
HTML_ARTICLE_MAIN_TEXTS = [
    ("heading", "Query Engines"),
    ("text", "A query engine turns declarative plans into physical operators "
             "that scan, filter and join relations at scale."),
    ("heading", "Vectorized Execution"),
    ("text", "Vectorized engines process batches of rows at a time, amortizing "
             "dispatch cost and keeping data in CPU caches for longer."),
    ("code", "for batch in scan:\n    emit(filter(batch))"),
    ("text", "columnar layout beats row-at-a-time for analytics\n"
             "late materialization avoids touching unused columns entirely"),
]
