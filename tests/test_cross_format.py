"""Cross-format determinism: the same logical document authored as
markdown, HTML, and DOCX extracts to IDENTICAL text and chunk rows — the
strongest form of the byte-identity contract (format-independent canonical
output for simple heading/paragraph/code content)."""

from __future__ import annotations

from docling_rag_spark.operators.blocks import chunk_blocks
from docling_rag_spark.operators.dispatch import parse_document_ex
from docling_rag_spark.operators.extract_docx import build_docx

H1 = "Pipeline Overview"
P1 = "The extraction job reads pages and writes chunk tables."
H2 = "Failure Handling"
P2 = "Row failures surface as error rows and never abort the batch."
CODE = "run_extraction(spark, pages, out)"

MD = f"# {H1}\n\n{P1}\n\n## {H2}\n\n{P2}\n\n```\n{CODE}\n```\n"
HTML = (f"<html><body><h1>{H1}</h1><p>{P1}</p>"
        f"<h2>{H2}</h2><p>{P2}</p><pre>{CODE}</pre></body></html>")
DOCX = build_docx([
    ("heading", (1, H1)), ("text", P1),
    ("heading", (2, H2)), ("text", P2), ("code", CODE),
])


def _extract(payload: bytes):
    fmt, blocks, status, err = parse_document_ex(payload, None)[:4]
    assert status == "ok", (fmt, err)
    return fmt, chunk_blocks(blocks)


def test_same_content_same_output_across_formats():
    results = {}
    for name, payload in (("markdown", MD.encode()),
                          ("html", HTML.encode()),
                          ("docx", DOCX)):
        fmt, (extracted, chunks) = _extract(payload)
        results[name] = (extracted, [
            (c.chunk_id, c.text, c.element_type, tuple(c.headings),
             c.span, c.token_count) for c in chunks])
        assert fmt == name
    assert results["markdown"] == results["html"] == results["docx"]
