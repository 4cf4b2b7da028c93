"""DOCX extraction: format parity with the reference's .docx path
(core/parser.py:9). Stdlib zip+XML parse, heading/code/table mapping,
dispatch sniffing, and end-to-end chunking."""

from __future__ import annotations

from docling_rag_spark.operators.blocks import chunk_blocks
from docling_rag_spark.operators.dispatch import parse_document_ex, sniff_format
from docling_rag_spark.operators.extract_docx import build_docx, extract_docx

DOC_ITEMS = [
    ("heading", (1, "Database Architecture")),
    ("text", "The DWH uses a star schema with fact and dimension tables."),
    ("heading", (2, "Query Layer")),
    ("text", "Queries  run   declaratively."),
    ("code", "SELECT 1;"),
    ("table", [["metric", "value"], ["p99", "120ms"]]),
]


def test_extract_docx_blocks():
    blocks = extract_docx(build_docx(DOC_ITEMS))
    kinds = [(b.kind, b.text) for b in blocks]
    assert kinds == [
        ("heading", "Database Architecture"),
        ("text", "The DWH uses a star schema with fact and dimension tables."),
        ("heading", "Query Layer"),
        ("text", "Queries run declaratively."),   # whitespace collapsed
        ("code", "SELECT 1;"),
        ("table", "metric | value\np99 | 120ms"),
    ]
    assert blocks[0].level == 1 and blocks[2].level == 2


def test_docx_dispatch_and_chunking():
    payload = build_docx(DOC_ITEMS)
    assert sniff_format(payload, None) == "docx"
    fmt, blocks, status, err = parse_document_ex(payload, None)[:4]
    assert (fmt, status, err) == ("docx", "ok", None)
    extracted, chunks = chunk_blocks(blocks)
    # table and code are atomic chunks; heading path propagates
    types = [c.element_type for c in chunks]
    assert "code" in types and "table" in types
    code = next(c for c in chunks if c.element_type == "code")
    assert code.headings == ["Database Architecture", "Query Layer"]
    for c in chunks:
        assert extracted.encode()[c.span[0]:c.span[1]].decode() == c.text


def test_docx_corrupt_fail_soft():
    # zip magic without the document part: not docx, routed elsewhere
    junk = b"PK\x03\x04 not really a zip"
    assert sniff_format(junk, None) in ("unsupported", "markdown")
    # truncated archive that still carries the part name in its bytes:
    # sniffs as docx, extraction fails, row stays fail-soft
    truncated = build_docx(DOC_ITEMS)[:200]
    if b"word/document.xml" not in truncated:
        truncated = truncated + b"word/document.xml"
    assert sniff_format(truncated, None) == "docx"
    fmt, blocks, status, err = parse_document_ex(truncated, None)[:4]
    assert (fmt, status, blocks) == ("docx", "error", [])
    assert err


def test_docx_zip_bomb_capped(monkeypatch):
    import docling_rag_spark.operators.extract_docx as D
    monkeypatch.setattr(D, "MAX_DOCUMENT_XML_BYTES", 64)
    payload = build_docx(DOC_ITEMS)  # document.xml is well over 64 bytes
    fmt, blocks, status, err = parse_document_ex(payload, None)[:4]
    assert (fmt, status) == ("docx", "error")
    assert "refusing decompression" in err


def _docx_with_body(body_xml: str) -> bytes:
    import io
    import zipfile

    from docling_rag_spark.operators.extract_docx import _CONTENT_TYPES, _RELS
    ns = ('xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" '
          'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006"')
    doc = (f'<?xml version="1.0"?><w:document {ns}>'
           f"<w:body>{body_xml}</w:body></w:document>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def test_sdt_content_controls_extracted():
    """Word wraps TOCs / templated sections in w:sdt content controls;
    their paragraphs must not be silently dropped."""
    bs = extract_docx(_docx_with_body(
        "<w:sdt><w:sdtContent><w:p><w:r><w:t>inside control</w:t></w:r>"
        "</w:p></w:sdtContent></w:sdt>"))
    assert [b.text for b in bs] == ["inside control"]


def test_alternate_content_read_once():
    """mc:Choice and mc:Fallback carry the same content twice; exactly
    one branch is read."""
    bs = extract_docx(_docx_with_body(
        "<w:p><w:r><mc:AlternateContent>"
        "<mc:Choice><w:t>DUP</w:t></mc:Choice>"
        "<mc:Fallback><w:t>DUP</w:t></mc:Fallback>"
        "</mc:AlternateContent></w:r></w:p>"))
    assert [b.text for b in bs] == ["DUP"]


def test_sdt_inside_table_cell():
    bs = extract_docx(_docx_with_body(
        "<w:tbl><w:tr>"
        "<w:tc><w:sdt><w:sdtContent><w:p><w:r><w:t>cellA</w:t></w:r></w:p>"
        "</w:sdtContent></w:sdt></w:tc>"
        "<w:tc><w:p><w:r><w:t>cellB</w:t></w:r></w:p></w:tc>"
        "</w:tr></w:tbl>"))
    assert bs[0].kind == "table" and bs[0].text == "cellA | cellB"
