from fixture_builders import HTML_ARTICLE_MAIN_TEXTS

from docling_rag_spark.operators.extract_html import extract_html
from docling_rag_spark.sources.fixtures import HTML_ARTICLE, HTML_TABLE_PAGE


def test_boilerplate_stripped_main_kept():
    blocks = extract_html(HTML_ARTICLE)
    got = [(b.kind, b.text) for b in blocks]
    assert got == HTML_ARTICLE_MAIN_TEXTS
    # nothing from nav / sidebar / footer / related leaked through
    joined = "\n".join(b.text for b in blocks)
    for boiler in ("Home", "Pricing", "Link one", "Copyright", "Subscribe"):
        assert boiler not in joined


def test_heading_levels():
    blocks = extract_html(HTML_ARTICLE)
    heads = [(b.level, b.text) for b in blocks if b.kind == "heading"]
    assert heads == [(1, "Query Engines"), (2, "Vectorized Execution")]


def test_table_serialization():
    blocks = extract_html(HTML_TABLE_PAGE)
    tables = [b for b in blocks if b.kind == "table"]
    assert len(tables) == 1
    assert tables[0].text == (
        "Medium | Latency\nL1 cache | 1 ns\nSSD read | 150 us"
    )


def test_link_density_drops_menus():
    html = "<body><p><a href='/a'>one</a> <a href='/b'>two</a></p>" \
           "<p>This sentence is genuine running prose with facts.</p></body>"
    blocks = extract_html(html)
    assert [b.text for b in blocks] == [
        "This sentence is genuine running prose with facts."
    ]


def test_short_fragments_dropped_unless_sentencey():
    html = "<body><div>Tags</div><div>Short but a sentence.</div></body>"
    texts = [b.text for b in extract_html(html)]
    assert texts == ["Short but a sentence."]


def test_malformed_html_tolerated():
    blocks = extract_html("<body><p>unclosed paragraph with enough characters here")
    assert [b.text for b in blocks] == [
        "unclosed paragraph with enough characters here"
    ]


def test_entities_decoded():
    blocks = extract_html(
        "<body><p>fish &amp; chips cost &lt;5 euro, which is cheap.</p></body>"
    )
    assert blocks[0].text == "fish & chips cost <5 euro, which is cheap."


# --- hostile real-crawl markup ----------------------------------------------

def _texts(blocks):
    return [b.text for b in blocks]


def test_unclosed_tag_soup_matches_closed_variant():
    """Byte-identity across malformed variants: the same content with and
    without closing tags extracts to the identical block list."""
    body = ("<h1>Заголовок статьи</h1>"
            "<p>Первый абзац статьи достаточно длинный для порога.</p>"
            "<p>Второй абзац тоже достаточно длинный для порога отбора.")
    closed = f"<html><body><div>{body}</p></div></body></html>"
    soup = f"<div>{body}"  # no closing tags anywhere
    a, b = extract_html(closed), extract_html(soup)
    assert _texts(a) == _texts(b)
    assert a[0].text == "Заголовок статьи"


def test_deep_nesting_no_crash():
    depth = 50_000
    html = "<div>" * depth + \
        "<p>Deep but perfectly extractable paragraph content here.</p>" + \
        "</div>" * depth
    blocks = extract_html(html)
    assert _texts(blocks) == ["Deep but perfectly extractable paragraph "
                              "content here."]


def test_script_style_cdata_soup_dropped():
    html = ("<p>Real content sentence that is long enough to keep.</p>"
            "<script>var x = '<p>fake</p>'; /* <![CDATA[ junk ]]> */"
            "if (a < b && c > d) {}</script>"
            "<style>.x { content: '<div>nope</div>'; }</style>"
            "<!-- commented <p>also fake</p> -->"
            "<p>Second real sentence, also long enough to keep.</p>")
    assert _texts(extract_html(html)) == [
        "Real content sentence that is long enough to keep.",
        "Second real sentence, also long enough to keep."]


def test_nested_tables_flattened_deterministically():
    html = ("<table><tr><th>Город</th><th>Данные</th></tr>"
            "<tr><td>Москва</td><td><table><tr><td>x</td><td>y</td></tr>"
            "</table></td></tr></table>")
    blocks = extract_html(html)
    assert len(blocks) == 1 and blocks[0].kind == "table"
    assert blocks[0].text == "Город | Данные\nМосква | x y"
    # idempotent on re-parse of its own serialization context
    assert extract_html(html)[0].text == blocks[0].text


def test_control_chars_stripped_rtl_preserved():
    html = ("<p>Text with\x00 embedded\x01 NULs survives extraction "
            "cleanly here.</p>"
            "<p>עברית مع العربية — RTL content stays byte-for-byte intact "
            "in the output.</p>")
    texts = _texts(extract_html(html))
    assert texts[0] == "Text with embedded NULs survives extraction cleanly here."
    assert texts[1] == ("עברית مع العربية — RTL content stays byte-for-byte "
                        "intact in the output.")


def test_stray_end_tags_and_mismatched_nesting():
    html = ("</div></p><p>Paragraph one is long enough to pass the "
            "threshold.</p></section><b><p>Paragraph two misnested inside "
            "an unclosed bold tag, long enough.</p>")
    texts = _texts(extract_html(html))
    assert "Paragraph one is long enough to pass the threshold." in texts
    assert any("Paragraph two misnested" in t for t in texts)


# --- charset handling (VERDICT r2 task 3) -----------------------------------

def _parse_bytes(payload, text=None):
    from docling_rag_spark.operators.dispatch import parse_document_ex
    return parse_document_ex(payload, text)[:4]


def test_cp1251_declared_extracts_byte_identical_to_utf8():
    from docling_rag_spark.sources import fixtures as FX
    fmt_u, blocks_u, st_u, _ = _parse_bytes(FX.cyrillic_html("utf-8"))
    fmt_c, blocks_c, st_c, _ = _parse_bytes(
        FX.cyrillic_html("cp1251", declare=True))
    assert (fmt_u, st_u) == ("html", "ok") and (fmt_c, st_c) == ("html", "ok")
    assert [(b.kind, b.text) for b in blocks_u] == \
           [(b.kind, b.text) for b in blocks_c]
    joined = "\n".join(b.text for b in blocks_c)
    assert "Архитектура хранилища" in joined
    assert "�" not in joined  # no replacement chars = no mojibake


def test_koi8_undeclared_heuristic_extracts_byte_identical():
    from docling_rag_spark.sources import fixtures as FX
    _, blocks_u, _, _ = _parse_bytes(FX.cyrillic_html("utf-8"))
    fmt_k, blocks_k, st_k, _ = _parse_bytes(FX.cyrillic_html("koi8_r"))
    assert (fmt_k, st_k) == ("html", "ok")
    assert [(b.kind, b.text) for b in blocks_k] == \
           [(b.kind, b.text) for b in blocks_u]


def test_koi8_markdown_undeclared():
    from docling_rag_spark.sources import fixtures as FX
    fmt, blocks, status, _ = _parse_bytes(FX.koi8_markdown())
    assert (fmt, status) == ("markdown", "ok")
    joined = "\n".join(b.text for b in blocks)
    assert "звезда" in joined and "�" not in joined


def test_utf16_bom_html():
    doc = ("<!DOCTYPE html><html><body><h1>Шестнадцать бит</h1>"
           "<p>Текст в кодировке utf-16 с маркером порядка байтов,"
           " достаточно длинный для детектора плотности.</p></body></html>")
    payload = b"\xff\xfe" + doc.encode("utf-16-le")
    fmt, blocks, status, _ = _parse_bytes(payload)
    assert (fmt, status) == ("html", "ok")
    assert any("Шестнадцать бит" == b.text for b in blocks)


def test_charset_detector_units():
    from docling_rag_spark.operators.charset import (
        declared_charset, detect_decode, looks_binary)
    assert declared_charset(b'<meta charset="Windows-1251">') == "cp1251"
    assert declared_charset(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=koi8-r">') == "koi8_r"
    assert declared_charset(b'<?xml version="1.0" encoding="UTF-8"?>') == "utf-8"
    ru = "обычный русский текст в нижнем регистре про хранилище данных"
    assert detect_decode(ru.encode("cp1251"))[1] == "cp1251"
    assert detect_decode(ru.encode("koi8_r"))[1] == "koi8_r"
    assert detect_decode(ru.encode("utf-8"))[1] == "utf-8"
    text, codec = detect_decode("café naïve".encode("cp1252"))
    assert codec == "cp1252" and "café" in text
    assert looks_binary(bytes(range(32)) * 8)
    assert not looks_binary("просто текст".encode("cp1251"))


def test_encoding_column_observability():
    """parse_document_ex exposes the detected charset for the fleet-wide
    encoding histogram (mojibake observability at crawl scale)."""
    from docling_rag_spark.operators.dispatch import parse_document_ex
    from docling_rag_spark.sources import fixtures as FX
    assert parse_document_ex(FX.cyrillic_html("utf-8"), None)[4] == "utf-8"
    assert parse_document_ex(
        FX.cyrillic_html("cp1251", declare=True), None)[4] == "cp1251"
    assert parse_document_ex(FX.cyrillic_html("koi8_r"), None)[4] == "koi8_r"
    assert parse_document_ex(FX.koi8_markdown(), None)[4] == "koi8_r"
    # binary formats / pre-extracted text have no source charset
    assert parse_document_ex(FX.build_scan_pdf(1), None)[4] is None
    assert parse_document_ex(None, "plain wet text")[4] is None


def test_implied_end_tags_preserve_table_structure():
    """Crawl HTML omits </td> </tr> </p> </li> constantly (HTML5 implied
    end tags); cells and rows must still separate."""
    bs = extract_html("<table><tr><td>a<td>b<tr><td>c<td>d</table>")
    assert bs[0].kind == "table" and bs[0].text == "a | b\nc | d"


def test_implied_end_tags_split_paragraphs_and_items():
    bs = extract_html(
        "<p>First paragraph with enough words to keep."
        "<p>Second paragraph with enough words to keep.")
    assert [b.text for b in bs] == [
        "First paragraph with enough words to keep.",
        "Second paragraph with enough words to keep."]
    bs = extract_html(
        "<ul><li>first item with enough words<li>second item with enough words</ul>")
    assert bs[0].text == "first item with enough words\nsecond item with enough words"


def test_pre_keeps_line_structure():
    """<br> and div-per-line highlighter wrappers inside <pre> are real
    newlines — code must stay verbatim, not collapse to one line."""
    assert extract_html("<pre>line1<br>line2</pre>")[0].text == "line1\nline2"
    assert extract_html(
        "<pre><div>line1</div><div>line2</div></pre>")[0].text == "line1\nline2"
