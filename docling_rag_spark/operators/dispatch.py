"""Per-row format dispatch + parse -> (format, blocks, status, error).

Replaces the reference's extension gate (core/parser.py:93-97, S2) with
content sniffing — Common-Crawl rows have no file suffix. Unsupported or
broken rows fail SOFT: they become (status='error', 0 chunks) and are counted
in lineage, never aborting the batch — the reference's two-tier error
taxonomy (core/indexer.py:112-116, Q5). Only infrastructure errors are left
to propagate (Spark task retry handles those).
"""

from __future__ import annotations

import re

from docling_rag_spark.operators.blocks import Block
from docling_rag_spark.operators.charset import detect_decode, looks_binary, sniff_bom
from docling_rag_spark.operators.extract_docx import extract_docx, is_docx
from docling_rag_spark.operators.extract_html import extract_html
from docling_rag_spark.operators.extract_markdown import extract_markdown
from docling_rag_spark.operators.extract_pdf import (
    blocks_from_pages,
    classify_pdf,
)

_HTML_SNIFF_RE = re.compile(
    rb"^\s*(?:<!doctype\s+html|<html\b|<head\b|<body\b)", re.IGNORECASE
)
_HTML_TAG_RE = re.compile(rb"<(?:p|div|h[1-6]|article|section|table|a)\b", re.IGNORECASE)
_HTML_SNIFF_STR_RE = re.compile(
    r"^\s*(?:<!doctype\s+html|<html\b|<head\b|<body\b)", re.IGNORECASE)
_HTML_TAG_STR_RE = re.compile(
    r"<(?:p|div|h[1-6]|article|section|table|a)\b", re.IGNORECASE)


def sniff_format(html: bytes | None, text: str | None) -> str:
    """'pdf' | 'docx' | 'html' | 'markdown' | 'empty' | 'unsupported'.

    Structural magic (%PDF-, zip/docx, HTML tags) is ASCII in every
    accepted text charset (cp1251/koi8-r/latin are ASCII supersets), so
    byte-level sniffing is charset-safe; utf-16 payloads are BOM-detected
    and sniffed post-decode."""
    if html:
        if html.startswith(b"%PDF-"):
            return "pdf"
        if is_docx(html):
            return "docx"
        head = html[:4096]
        bom = sniff_bom(head)
        if bom and bom[0].startswith("utf-16"):
            dhead = head[bom[1]:].decode(bom[0], errors="replace")
            if _HTML_SNIFF_STR_RE.search(dhead) or _HTML_TAG_STR_RE.search(dhead):
                return "html"
            return "markdown"
        if _HTML_SNIFF_RE.search(head) or _HTML_TAG_RE.search(head):
            return "html"
        if looks_binary(head):
            return "unsupported"
        return "markdown"
    if text and text.strip():
        return "markdown"  # WET-style pre-extracted text / markdown
    return "empty"


def parse_document_ex(html: bytes | None, text: str | None
                      ) -> tuple[str, list[Block], str, str | None,
                                 str | None]:
    """Returns (format, blocks, status, error, encoding). Never raises on
    row data. ``encoding`` is the detected source charset for decoded
    textual payloads (observability: a fleet-wide encoding histogram is
    how mojibake regressions surface at 10^12 docs), None for binary
    formats and pre-extracted text."""
    fmt = sniff_format(html, text)
    enc: str | None = None
    try:
        if fmt == "pdf":
            # S3 text-layer gate (reference core/parser.py:16-53, ocr="auto"):
            # digital PDFs take the parsed path; scan-class PDFs degrade to
            # the crawl-supplied WET text when present (low-confidence
            # extraction, status='degraded'), else to whatever sparse text
            # the parser recovered — never an error row. OCR itself is out
            # of scope in this environment (no models).
            pages, has_layer, texty, sampled = classify_pdf(html)  # type: ignore[arg-type]
            if has_layer:
                return fmt, blocks_from_pages(pages), "ok", None, None
            reason = (f"scan-class pdf ({texty}/{sampled} texty pages); "
                      "ocr unavailable: ")
            if text and text.strip():
                return (fmt, extract_markdown(text), "degraded",
                        reason + "crawl-supplied text used", None)
            return (fmt, blocks_from_pages(pages), "degraded",
                    reason + "sparse parsed text only", None)
        elif fmt == "docx":
            blocks = extract_docx(html)  # type: ignore[arg-type]
        elif fmt == "html":
            # charset-aware decode (BOM / declared charset / cp1251-koi8r
            # heuristic): a cp1251 page must extract byte-identical to its
            # utf-8 twin, never as clean-status mojibake
            src, enc = detect_decode(html)  # type: ignore[arg-type]
            blocks = extract_html(src)
        elif fmt == "markdown":
            if html:
                src, enc = detect_decode(html)
            else:
                src = text or ""
            blocks = extract_markdown(src)
        elif fmt == "empty":
            return fmt, [], "ok", None, None  # empty doc: 0 chunks, still ok
        else:
            return fmt, [], "error", "unsupported format", None
        return fmt, blocks, "ok", None, enc
    except Exception as exc:  # row-level fail-soft (reference indexer.py:114-116)
        return fmt, [], "error", f"{type(exc).__name__}: {exc}", enc
