"""Detector matrix mirrors reference tests/core/test_parser.py:49-92."""

from docling_rag_spark.operators.extract_pdf import (
    blocks_from_pages,
    detect_text_layer,
    read_pdf_pages,
)
from docling_rag_spark.sources.fixtures import build_scan_pdf, build_text_pdf

LONG = "This line is long enough to pass the one-hundred character page threshold easily, padded words here."
assert len(LONG) >= 100


def test_text_pdf_three_pages_detected():
    pdf = build_text_pdf([LONG] * 3)
    assert detect_text_layer(pdf) == (True, 3, 3)


def test_fifteen_pages_samples_ten():
    pdf = build_text_pdf([LONG] * 15)
    has, texty, sampled = detect_text_layer(pdf)
    assert (has, sampled) == (True, 10)
    assert texty == 10


def test_scan_pdf_no_text():
    pdf = build_scan_pdf(4)
    assert detect_text_layer(pdf) == (False, 0, 4)


def test_short_text_is_scan():
    pdf = build_text_pdf(["too short"])
    assert detect_text_layer(pdf) == (False, 0, 1)


def test_corrupt_bytes_fail_soft():
    assert detect_text_layer(b"definitely not a pdf") == (False, 0, 0)
    assert detect_text_layer(b"%PDF-1.4 garbage") == (False, 0, 0)


def test_mixed_half_ratio():
    # 2 texty of 4 sampled -> ratio 0.5 -> digital
    pdf = build_text_pdf([LONG, "x", LONG, "y"])
    assert detect_text_layer(pdf) == (True, 2, 4)


def test_page_order_and_text_roundtrip():
    pdf = build_text_pdf(["page one text", "page two text"])
    assert read_pdf_pages(pdf) == ["page one text", "page two text"]


def test_multiline_and_escapes():
    pdf = build_text_pdf(["line (a)\nline \\b"])
    assert read_pdf_pages(pdf) == ["line (a)\nline \\b"]


def test_flate_compressed_stream():
    pdf = build_text_pdf([LONG], compress=True)
    assert detect_text_layer(pdf) == (True, 1, 1)


def test_extract_blocks_pages_and_provenance():
    pdf = build_text_pdf(["first page body", "", "third page body"])
    blocks = blocks_from_pages(read_pdf_pages(pdf))
    assert [(b.page, b.text) for b in blocks] == [
        (1, "first page body"),
        (3, "third page body"),
    ]


# --- real-crawl depth: object streams, predictors, unicode, bombs -----------

from fixture_builders import (  # noqa: E402
    build_bomb_pdf,
    build_objstm_pdf,
    build_unicode_pdf,
)


def test_objstm_pages_resolved():
    """PDF 1.5-era layout: page tree lives inside a compressed /ObjStm."""
    pdf = build_objstm_pdf(["first page body", "second page body"])
    assert read_pdf_pages(pdf) == ["first page body", "second page body"]
    assert detect_text_layer(build_objstm_pdf([LONG] * 3)) == (True, 3, 3)


def test_objstm_png_predictor():
    pdf = build_objstm_pdf(["predicted stream page"], predictor=True)
    assert read_pdf_pages(pdf) == ["predicted stream page"]


def test_utf16_hex_strings():
    """Non-Latin text as <FEFF…> hex shows (Russian/Cyrillic crawl pages)."""
    ru = "Архитектура базы данных и хранилище"
    pdf = build_unicode_pdf([ru, "plain ascii line"])
    assert read_pdf_pages(pdf) == [ru, "plain ascii line"]


def test_utf16_literal_string_with_bom():
    from docling_rag_spark.operators.extract_pdf import _decode_string
    raw = b"(" + b"\xfe\xff" + "Привет".encode("utf-16-be") + b")"
    assert _decode_string(raw) == "Привет"
    # hex with odd digit count gets the spec-mandated trailing zero
    assert _decode_string(b"<48656C6C6F2>") == "Hello "


def test_inflate_bomb_capped_fail_soft():
    pdf = build_bomb_pdf()
    # page is unreadable -> empty text, never an 80 MiB allocation escape
    assert read_pdf_pages(pdf) == [""]
    assert detect_text_layer(pdf) == (False, 0, 1)


def test_truncated_stream_fail_soft():
    pdf = build_objstm_pdf(["page body"])
    # chop the file mid-stream: tolerant scanner still fails soft
    broken = pdf[: len(pdf) // 2]
    assert detect_text_layer(broken)[0] is False


def test_quote_operator_and_line_continuation():
    from docling_rag_spark.operators.extract_pdf import _page_text
    content = b'BT 2 1 (shown via quote) " ET'
    assert _page_text(content) == "shown via quote"
    content2 = b"BT (split \\\nline) Tj ET"
    assert _page_text(content2) == "split line"


def test_invalid_octal_escape_drops_backslash():
    """PDF 32000 7.3.4.2: \\8 \\9 are not octal; the backslash is dropped
    and the digit kept — the page must not lose its text to a ValueError."""
    from docling_rag_spark.operators.extract_pdf import _page_text
    assert _page_text(rb"BT (oops\8 and \9ok) Tj ET") == "oops8 and 9ok"


def test_backslash_crlf_is_one_line_continuation():
    from docling_rag_spark.operators.extract_pdf import _page_text
    assert _page_text(b"BT (foo\\\r\nbar) Tj ET") == "foobar"
    assert _page_text(b"BT (foo\\\rbar) Tj ET") == "foobar"


def test_tj_array_joins_kerned_substrings():
    """Sub-strings of one TJ show op concatenate; only a large negative
    adjustment (an implicit word gap) inserts a space — kerned words must
    not split across newlines."""
    from docling_rag_spark.operators.extract_pdf import _page_text
    assert _page_text(b"BT [(Hel)-20(lo) -250 (world)] TJ ET") == "Hello world"
    assert _page_text(b"BT [(a)3(b)] TJ ET") == "ab"
    # separate show ops still break lines
    assert _page_text(b"BT (one) Tj (two) Tj ET") == "one\ntwo"
