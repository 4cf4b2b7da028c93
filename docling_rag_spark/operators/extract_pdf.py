"""Minimal from-scratch PDF text-layer reader + digital/scan detector.

Replaces the reference's pypdfium2-based text-layer detection
(core/parser.py:16-53) and the Docling PDF parse (core/parser.py:87-117) for
the digital-text path. OCR is out of scope (no models in this environment;
reference ``ocr=off`` path) — scan pages simply yield no text.

Detection semantics mirror the reference exactly:
  * sample ``min(n, 10)`` pages evenly: ``step=(n-1)/max(count-1,1)``,
    ``indices = sorted({round(i*step)})`` (core/parser.py:37-39);
  * a page is "texty" if its stripped text has >= 100 chars
    (core/parser.py:17,44-45);
  * digital iff texty/sampled >= 0.5 (core/parser.py:18,46);
  * any read error -> (False, 0, 0) fail-soft (core/parser.py:29-31).

The reader is a tolerant scanner over the PDF object graph: it resolves the
page tree (/Root -> /Pages -> /Kids, recursively), pulls each page's
/Contents streams, and decodes the text operators Tj / TJ / ' / "
including escape sequences, octal escapes, hex strings, and UTF-16BE
(BOM-prefixed) strings. Real-crawl depth beyond the fixture class:

  * **object streams** (/Type /ObjStm): PDF 1.5+ files store most
    indirect objects Flate-compressed inside object streams (the
    xref-stream era that dominates Common Crawl) — these are expanded
    into the object table before page-tree resolution;
  * **PNG predictors** (/DecodeParms /Predictor >= 10): un-filtered
    (None/Sub/Up/Average/Paeth) after inflate;
  * **capped inflate**: every stream decompression is bounded (the same
    decompression-bomb tier as the DOCX XML cap) so a 1 KB bomb cannot
    take out an executor;
  * multi-object /Contents arrays, concatenated in array order.

Out of scope (documented, fail-soft): encrypted PDFs, CID/Type0 fonts
with /ToUnicode CMaps (hex strings decode as UTF-16BE-or-latin-1), and
rasterized scans (the OCR branch the reference gates behind a model).
"""

from __future__ import annotations

import re
import zlib

from docling_rag_spark.config import (
    DETECT_MAX_PAGES,
    DETECT_MIN_CHARS,
    DETECT_TEXT_RATIO,
)
from docling_rag_spark.operators.blocks import Block

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_LIT_STR = rb"\((?:\\.|[^()\\])*\)"
_HEX_STR = rb"<[0-9A-Fa-f\s]*>"
_TEXT_SHOW_RE = re.compile(
    rb"(?:%s|%s)\s*(?:Tj|'|\")|\[(?:[^\]]*)\]\s*TJ" % (_LIT_STR, _HEX_STR),
    re.DOTALL)
_STRING_RE = re.compile(rb"%s|%s" % (_LIT_STR, _HEX_STR), re.DOTALL)
_ESCAPE_RE = re.compile(rb"\\(\r\n|[0-7]{1,3}|.)", re.DOTALL)
_ESCAPE_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
               b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\",
               # escaped end-of-line marker (LF, CR, or CRLF as ONE marker,
               # PDF 32000 7.3.4.2) = line continuation -> no character
               b"\n": b"", b"\r": b"", b"\r\n": b""}

# decompression-bomb cap per stream (64 MiB of inflated bytes)
MAX_STREAM_BYTES = 64 * 1024 * 1024


class PdfError(Exception):
    pass


def _inflate(raw: bytes, cap: int = MAX_STREAM_BYTES) -> bytes:
    """zlib inflate with a hard output cap (bomb-safe)."""
    d = zlib.decompressobj()
    out = d.decompress(raw, cap)
    if d.unconsumed_tail:
        raise PdfError(f"stream inflates past {cap} byte cap")
    return out


def _unpredict(data: bytes, dict_part: bytes) -> bytes:
    """Reverse PNG row predictors (/DecodeParms /Predictor >= 10)."""
    pm = re.search(rb"/Predictor\s+(\d+)", dict_part)
    if not pm or int(pm.group(1)) < 10:
        return data
    cm = re.search(rb"/Columns\s+(\d+)", dict_part)
    cols = int(cm.group(1)) if cm else 1
    colors = int((re.search(rb"/Colors\s+(\d+)", dict_part) or [None, b"1"])[1])
    bpc = int((re.search(rb"/BitsPerComponent\s+(\d+)", dict_part)
               or [None, b"8"])[1])
    bpp = max(1, (colors * bpc) // 8)
    rowlen = (cols * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 + rowlen <= len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1: pos + 1 + rowlen])
        if ft == 1:      # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:    # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:    # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:    # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b, c = prev[i], prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        # ft == 0 (None) and unknown types: row used as-is
        out += row
        prev = row
        pos += 1 + rowlen
    return bytes(out)


def _stream_data(body: bytes) -> bytes | None:
    """Decoded stream payload of an object body (None if no stream)."""
    sm = _STREAM_RE.search(body)
    if not sm:
        return None
    raw = sm.group(1)
    d = _dict_part(body)
    if b"/FlateDecode" in d:
        raw = _unpredict(_inflate(raw), d)
    return raw


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")


def _expand_object_streams(objs: dict[int, bytes]) -> None:
    """PDF 1.5+ object streams: most indirect objects of a real-crawl PDF
    live Flate-compressed inside /Type /ObjStm streams (companion of the
    compressed xref stream). Header = /N pairs of "objnum offset", objects
    start at /First. Directly-scanned objects win on number collision (a
    live direct object shadows a stale compressed one; full xref replay is
    deliberately out of scope for a tolerant scanner)."""
    for body in list(objs.values()):
        d = _dict_part(body)
        if not _OBJSTM_RE.search(d):
            continue
        nm = re.search(rb"/N\s+(\d+)", d)
        fm = re.search(rb"/First\s+(\d+)", d)
        if not nm or not fm:
            continue
        try:
            data = _stream_data(body)
        except PdfError:
            continue
        if data is None:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            continue
        entries = []
        try:
            for i in range(n):
                entries.append((int(header[2 * i]), int(header[2 * i + 1])))
        except ValueError:
            continue
        for i, (num, off) in enumerate(entries):
            end = entries[i + 1][1] if i + 1 < len(entries) else len(data) - first
            objs.setdefault(num, data[first + off: first + end])


def _parse_objects(data: bytes) -> dict[int, bytes]:
    objs: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        objs[int(m.group(1))] = m.group(3)
    if not objs:
        raise PdfError("no objects")
    _expand_object_streams(objs)
    return objs


def _dict_part(body: bytes) -> bytes:
    """The object's dictionary portion (before any stream keyword)."""
    idx = body.find(b"stream")
    return body[:idx] if idx >= 0 else body


_PAGES_TYPE_RE = re.compile(rb"/Type\s*/Pages\b")
_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b")


def _find_pages(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in page-tree order; falls back to object order."""
    roots = [n for n, b in objs.items()
             if _PAGES_TYPE_RE.search(_dict_part(b)) and b"/Parent" not in _dict_part(b)]
    ordered: list[int] = []
    seen: set[int] = set()

    def descend(num: int) -> None:
        if num in seen or num not in objs:
            return
        seen.add(num)
        body = _dict_part(objs[num])
        if _PAGES_TYPE_RE.search(body):
            km = re.search(rb"/Kids\s*\[(.*?)\]", body, re.DOTALL)
            if km:
                for r in _REF_RE.finditer(km.group(1)):
                    descend(int(r.group(1)))
        elif _PAGE_TYPE_RE.search(body):
            ordered.append(num)

    for r in roots:
        descend(r)
    if not ordered:  # tolerant fallback: any /Type /Page object, numeric order
        ordered = sorted(
            n for n, b in objs.items() if _PAGE_TYPE_RE.search(_dict_part(b))
        )
    if not ordered:
        raise PdfError("no pages")
    return ordered


def _content_bytes(objs: dict[int, bytes], page_body: bytes) -> bytes:
    cm = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", page_body)
    refs: list[int] = []
    if cm:
        refs = [int(cm.group(1))]
    else:
        am = re.search(rb"/Contents\s*\[(.*?)\]", page_body, re.DOTALL)
        if am:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
    out = b""
    for ref in refs:
        body = objs.get(ref, b"")
        try:
            raw = _stream_data(body)
        except (PdfError, zlib.error):
            continue
        if raw is None:
            continue
        out += raw + b"\n"
    return out


def _bytes_to_text(raw: bytes) -> str:
    """UTF-16BE when BOM-prefixed (how real PDFs carry non-Latin text in
    literal strings), latin-1 otherwise (PDFDocEncoding approximation)."""
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("latin-1")


def _decode_string(s: bytes) -> str:
    if s[:1] == b"<":  # hex string: <FEFF0414...> or <48656c6c6f>
        hexdigits = re.sub(rb"\s+", b"", s[1:-1])
        if len(hexdigits) % 2:
            hexdigits += b"0"  # odd count: spec-mandated trailing zero
        try:
            return _bytes_to_text(bytes.fromhex(hexdigits.decode("ascii")))
        except ValueError:
            return ""
    inner = s[1:-1]

    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        # only the [0-7]{1,3} branch is octal; \8 \9 reach here via the
        # '.' alternative and are unknown escapes -> drop the backslash
        if g[:1].isdigit() and g[:1] not in (b"8", b"9"):
            return bytes([int(g, 8) & 0xFF])
        return _ESCAPE_MAP.get(g, g)

    return _bytes_to_text(_ESCAPE_RE.sub(sub, inner))


# elements of a TJ array: strings interleaved with kerning numbers
_TJ_ELEM_RE = re.compile(
    rb"%s|%s|[-+]?(?:\d+\.?\d*|\.\d+)" % (_LIT_STR, _HEX_STR), re.DOTALL)
# a TJ adjustment this negative (thousandths of an em) is an implicit
# word gap; smaller magnitudes are intra-word kerning and join seamlessly
_TJ_SPACE_THRESHOLD = -180.0


def _page_text(content: bytes) -> str:
    runs: list[str] = []
    for m in _TEXT_SHOW_RE.finditer(content):
        op = m.group(0)
        if op.rstrip().endswith(b"TJ"):
            # one show operation: kerned sub-strings concatenate (no
            # separator), except a large negative adjustment = word gap
            parts: list[str] = []
            for em in _TJ_ELEM_RE.finditer(op[op.find(b"[") + 1:op.rfind(b"]")]):
                tok = em.group(0)
                if tok[:1] in (b"(", b"<"):
                    parts.append(_decode_string(tok))
                else:
                    try:
                        if float(tok) <= _TJ_SPACE_THRESHOLD:
                            parts.append(" ")
                    except ValueError:
                        pass
            runs.append("".join(parts))
        else:
            for sm in _STRING_RE.finditer(op):
                runs.append(_decode_string(sm.group(0)))
    return "\n".join(r for r in runs if r)


def read_pdf_pages(data: bytes) -> list[str]:
    """Extracted text per page, in page order. Raises PdfError on junk input."""
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a pdf")
    objs = _parse_objects(data)
    pages = _find_pages(objs)
    texts: list[str] = []
    for p in pages:
        try:
            texts.append(_page_text(_content_bytes(objs, _dict_part(objs[p]))))
        except Exception:
            texts.append("")  # unreadable page == page without text
    return texts


def _detect_from_pages(page_texts: list[str]) -> tuple[bool, int, int]:
    n = len(page_texts)
    if n == 0:
        return False, 0, 0
    count = min(n, DETECT_MAX_PAGES)
    step = (n - 1) / max(count - 1, 1)
    indices = sorted({round(i * step) for i in range(count)})
    text_pages = sum(
        1 for idx in indices if len(page_texts[idx].strip()) >= DETECT_MIN_CHARS
    )
    return (text_pages / len(indices)) >= DETECT_TEXT_RATIO, text_pages, len(indices)


def detect_text_layer(data: bytes) -> tuple[bool, int, int]:
    """(has_text_layer, texty_pages, pages_sampled) — reference S3 semantics."""
    try:
        page_texts = read_pdf_pages(data)
    except Exception:
        return False, 0, 0
    return _detect_from_pages(page_texts)


def classify_pdf(data: bytes) -> tuple[list[str], bool, int, int]:
    """One parse serving both S3 detection and extraction:
    (page_texts, has_text_layer, texty_pages, pages_sampled). Raises
    PdfError on junk input (callers fail-soft)."""
    page_texts = read_pdf_pages(data)
    has, texty, sampled = _detect_from_pages(page_texts)
    return page_texts, has, texty, sampled


def blocks_from_pages(page_texts: list[str]) -> list[Block]:
    """One text block per non-empty page, 1-based page provenance."""
    return [Block("text", t.strip(), page=i + 1)
            for i, t in enumerate(page_texts) if t.strip()]
