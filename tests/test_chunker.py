"""Chunker contract tests — mirror reference tests/core/test_chunker.py
assertions (element_type mapping, page default, heading propagation,
chunk_id enumeration, context_text = headings + text) plus the HybridChunker
behavior contract (CLAUDE.md:127-132): split > budget, merge small peers,
tables/code atomic.
"""

from fixture_builders import small_peers_markdown

from docling_rag_spark.functions.tokens import count_tokens
from docling_rag_spark.operators.blocks import Block, chunk_blocks
from docling_rag_spark.operators.extract_markdown import extract_markdown
from docling_rag_spark.sources.fixtures import (
    E2E_MARKDOWN,
    long_section_markdown,
)


def test_e2e_fixture_chunks():
    extracted, chunks = chunk_blocks(extract_markdown(E2E_MARKDOWN))
    assert extracted == (
        "Database Architecture\n\n"
        "The DWH uses a star schema with fact and dimension tables.\n\n"
        "SQL Example\n\n"
        "SELECT customer_id, SUM(amount)\nFROM fact_sales\nGROUP BY customer_id;"
    )
    assert [c.chunk_id for c in chunks] == [0, 1]
    text_chunk, code_chunk = chunks
    assert text_chunk.element_type == "text"
    assert text_chunk.text == "The DWH uses a star schema with fact and dimension tables."
    assert text_chunk.headings == ["Database Architecture"]
    assert text_chunk.context_text == (
        "Database Architecture\nThe DWH uses a star schema with fact and dimension tables."
    )
    assert code_chunk.element_type == "code"
    assert code_chunk.headings == ["Database Architecture", "SQL Example"]
    assert code_chunk.text.startswith("SELECT customer_id")


def test_spans_are_byte_offsets_into_extracted_text():
    extracted, chunks = chunk_blocks(extract_markdown(E2E_MARKDOWN))
    raw = extracted.encode("utf-8")
    for c in chunks:
        assert raw[c.span[0]:c.span[1]].decode("utf-8") == c.text


def test_cyrillic_byte_spans():
    md = "# Заголовок\n\nПервый абзац о хранилище данных.\n\nВторой абзац.\n"
    extracted, chunks = chunk_blocks(extract_markdown(md))
    raw = extracted.encode("utf-8")
    for c in chunks:
        assert raw[c.span[0]:c.span[1]].decode("utf-8") == c.text
    # byte offsets differ from char offsets for cyrillic
    assert chunks[0].span[0] != chunks[0].char_span[0]


def test_long_section_splits_under_budget():
    extracted, chunks = chunk_blocks(extract_markdown(long_section_markdown()), max_tokens=512)
    assert len(chunks) > 1
    for c in chunks:
        assert count_tokens(c.text) <= 512
        assert c.headings == ["Long Section"]
    # split pieces must reassemble (with separators) into the section body
    assert chunks[0].text.startswith("Sentence number 0")
    assert chunks[-1].text.endswith("shuffle cost.")


def test_small_peers_merged():
    extracted, chunks = chunk_blocks(extract_markdown(small_peers_markdown()), max_tokens=512)
    assert len(chunks) == 1
    assert chunks[0].text.count("Short paragraph") == 5


def test_merge_respects_budget_boundary():
    blocks = [Block("text", "alpha beta gamma")] * 3  # 3 tokens each
    _, chunks = chunk_blocks(blocks, max_tokens=7)
    # 3+3 fits in 7, third would exceed -> two chunks
    assert [c.token_count for c in chunks] == [6, 3]


def test_tables_and_code_atomic_never_merged():
    blocks = [
        Block("text", "intro paragraph."),
        Block("code", "x = 1"),
        Block("text", "tail paragraph."),
        Block("table", "a | b\n1 | 2"),
    ]
    _, chunks = chunk_blocks(blocks, max_tokens=512)
    assert [c.element_type for c in chunks] == ["text", "code", "text", "table"]


def test_heading_stack_pops_on_sibling():
    md = "# Top\n\n## A\n\npara a.\n\n## B\n\npara b.\n"
    _, chunks = chunk_blocks(extract_markdown(md))
    assert chunks[0].headings == ["Top", "A"]
    assert chunks[1].headings == ["Top", "B"]


def test_page_number_default_and_propagation():
    blocks = [Block("text", "page two content here.", page=2)]
    _, chunks = chunk_blocks(blocks)
    assert chunks[0].page_number == 2
    _, chunks = chunk_blocks([Block("text", "no page info given.")])
    assert chunks[0].page_number == 1


def test_empty_document_zero_chunks():
    extracted, chunks = chunk_blocks([])
    assert extracted == "" and chunks == []
