"""Deterministic synthetic `pages` table (Common-Crawl shape, no external data).

Schema per BASELINE.json::input_hint, ``operators/pipeline.PAGES_SCHEMA``:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Every row is a pure function of (doc_id, seed): content class, host, words and
markup all derive from ``random.Random(seed * P + doc_id)``. The host
distribution is deliberately skewed (a few hosts own most urls) to exercise
the salted repartition. The first rows are the authored fixture documents
(golden-checked in tests); the rest are generated docs covering every format
path: boilerplated HTML, markdown (incl. >512-token sections, tables, code),
digital PDFs, scan PDFs, corrupt bytes, WET-style text-only rows, empty rows,
and Cyrillic docs.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from docling_rag_spark.operators.pipeline import PAGES_SCHEMA
from docling_rag_spark.sources import fixtures as FX

_VOCAB = (
    "partition shuffle executor lineage snapshot commit vector cosine chunk "
    "heading table schema star fact dimension query engine scan filter join "
    "aggregate window broadcast salt skew bucket parquet iceberg arrow batch "
    "token budget merge split page layout density boilerplate anchor content "
    "crawl archive warc record fetch render index search score rank retrieval"
).split()

_RU_VOCAB = (
    "схема звезда таблица фактов измерение запрос поиск вектор близость "
    "раздел страница документ фрагмент заголовок хранилище данные поток"
).split()

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

FIXTURE_ROWS: list[tuple[str, bytes | None, str | None, str]] = [
    ("https://fixtures.example/docs/e2e.md",
     FX.E2E_MARKDOWN.encode(), None, "en"),
    ("https://fixtures.example/docs/article.html",
     FX.HTML_ARTICLE.encode(), None, "en"),
    ("https://fixtures.example/docs/latency.html",
     FX.HTML_TABLE_PAGE.encode(), None, "en"),
    ("https://fixtures.example/docs/digital.pdf",
     FX.build_text_pdf(["This digital fixture page carries a long paragraph of "
                        "body text that easily clears the one hundred character "
                        "threshold for the text layer detector."] * 3), None, "en"),
    ("https://fixtures.example/docs/scan.pdf", FX.build_scan_pdf(2), None, "en"),
    # scan-class PDF where the crawl supplied WET text: the degraded S3
    # branch must emit that text as a low-confidence extraction
    ("https://fixtures.example/docs/scanwet.pdf", FX.build_scan_pdf(3),
     "Recovered WET text for the scanned report.\n\n"
     "It carries two paragraphs the degraded branch must chunk.", "en"),
    ("https://fixtures.example/docs/broken.pdf", b"%PDF-1.4 truncated junk", None, "en"),
    ("https://fixtures.example/docs/empty.md", None, None, "en"),
    ("https://fixtures.example/docs/ru.md", FX.CYRILLIC_MARKDOWN.encode(), None, "ru"),
    ("https://fixtures.example/docs/long.md",
     FX.long_section_markdown().encode(), None, "en"),
    ("https://fixtures.example/docs/wet.txt", None,
     "Plain pre-extracted WET text about shuffle cost and partition pruning.\n\n"
     "It has two paragraphs so the chunker sees two blocks.", "en"),
    ("https://fixtures.example/docs/report.docx", FX.build_fixture_docx(),
     None, "en"),
    # charset matrix: same Russian article in utf-8 (undeclared), declared
    # cp1251, and undeclared koi8-r — all three must extract byte-identical
    ("https://fixtures.example/docs/ru-utf8.html",
     FX.cyrillic_html("utf-8"), None, "ru"),
    ("https://fixtures.example/docs/ru-cp1251.html",
     FX.cyrillic_html("cp1251", declare=True), None, "ru"),
    ("https://fixtures.example/docs/ru-koi8.html",
     FX.cyrillic_html("koi8_r"), None, "ru"),
    ("https://fixtures.example/docs/ru-koi8.md",
     FX.koi8_markdown(), None, "ru"),
]


def _sentence(rng: random.Random, vocab=_VOCAB) -> str:
    words = rng.choices(vocab, k=rng.randint(7, 13))
    return (" ".join(words)).capitalize() + "."


def _paragraph(rng: random.Random, vocab=_VOCAB, lo: int = 2, hi: int = 6) -> str:
    return " ".join(_sentence(rng, vocab) for _ in range(rng.randint(lo, hi)))


def _markdown_doc(rng: random.Random, vocab=_VOCAB, heaviness: int = 1) -> str:
    parts = [f"# {' '.join(rng.choices(vocab, k=3)).title()}"]
    for _ in range(rng.randint(1, 4) * heaviness):
        parts.append(f"## {' '.join(rng.choices(vocab, k=2)).title()}")
        for _ in range(rng.randint(1, 3)):
            parts.append(_paragraph(rng, vocab))
        roll = rng.random()
        if roll < 0.25:
            parts.append("```\n" + "\n".join(
                f"{w} = {rng.randint(0, 99)}" for w in rng.choices(vocab, k=3)) + "\n```")
        elif roll < 0.4:
            parts.append("| key | value |\n|---|---|\n" + "\n".join(
                f"| {rng.choice(vocab)} | {rng.randint(0, 999)} |" for _ in range(3)))
        elif roll < 0.55:
            parts.append("\n".join(f"- {_sentence(rng, vocab)}" for _ in range(rng.randint(2, 5))))
    if rng.random() < 0.15:  # over-budget section to exercise splitting
        parts.append("## Long Tail\n\n" + " ".join(_sentence(rng, vocab) for _ in range(140)))
    return "\n\n".join(parts) + "\n"


def _html_doc(rng: random.Random, heaviness: int = 1) -> str:
    nav = "<nav>" + " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.choices(_VOCAB, k=6)) + "</nav>"
    side = ('<div class="sidebar"><ul>' + "".join(
        f'<li><a href="/{w}">{w} link</a></li>' for w in rng.choices(_VOCAB, k=4))
        + "</ul></div>")
    body = [f"<h1>{' '.join(rng.choices(_VOCAB, k=3)).title()}</h1>"]
    for _ in range(rng.randint(1, 3) * heaviness):
        body.append(f"<h2>{' '.join(rng.choices(_VOCAB, k=2)).title()}</h2>")
        for _ in range(rng.randint(1, 3)):
            body.append(f"<p>{_paragraph(rng)}</p>")
        if rng.random() < 0.2:
            body.append("<pre>" + "\n".join(
                f"{w}({rng.randint(0, 9)})" for w in rng.choices(_VOCAB, k=3)) + "</pre>")
        if rng.random() < 0.2:
            body.append("<table>" + "".join(
                f"<tr><td>{rng.choice(_VOCAB)}</td><td>{rng.randint(0, 99)}</td></tr>"
                for _ in range(3)) + "</table>")
    footer = '<footer>Generated corpus footer <a href="/tos">terms</a></footer>'
    return ("<!DOCTYPE html><html><head><title>t</title></head><body>"
            + nav + side + "<article>" + "\n".join(body) + "</article>"
            + footer + "</body></html>")


def _row(doc_id: int, seed: int, heaviness: int = 1,
         ) -> tuple[str, bytes | None, str | None, str]:
    rng = random.Random(seed * 1_000_003 + doc_id)
    # skewed host: rng.random()**3 concentrates mass near host 0
    host = int(rng.random() ** 3 * 40)
    cls = doc_id % 100
    lang = "en"
    html: bytes | None = None
    text: str | None = None
    if cls < 45:
        html = _html_doc(rng, heaviness=heaviness).encode()
        name, ext = "page", "html"
    elif cls < 70:
        html = _markdown_doc(rng, heaviness=heaviness).encode()
        name, ext = "doc", "md"
    elif cls < 75:
        from docling_rag_spark.operators.extract_docx import build_docx
        items: list = [("heading", (1, " ".join(
            rng.choices(_VOCAB, k=3)).title()))]
        for _ in range(rng.randint(1, 3) * heaviness):
            items.append(("text", _paragraph(rng)))
            if rng.random() < 0.3:
                items.append(("table", [[rng.choice(_VOCAB),
                                         str(rng.randint(0, 99))]
                                        for _ in range(2)]))
        html = build_docx(items)
        name, ext = "memo", "docx"
    elif cls < 83:
        pages = [_paragraph(rng, lo=3, hi=6)
                 for _ in range(rng.randint(2, 4) * heaviness)]
        html = FX.build_text_pdf(pages, compress=bool(rng.random() < 0.5))
        name, ext = "report", "pdf"
    elif cls < 87:
        html = FX.build_scan_pdf(rng.randint(1, 3))
        name, ext = "scan", "pdf"
    elif cls < 89:
        html = b"%PDF-1.4 " + rng.randbytes(64)
        name, ext = "broken", "pdf"
    elif cls < 91:
        name, ext = "empty", "md"  # html None, text None
    elif cls < 96:
        lang = "ru"
        rng2 = rng
        paras = [
            " ".join(_sentence(rng2, _RU_VOCAB) for _ in range(rng2.randint(2, 4)))
            for _ in range(rng2.randint(1, 3))
        ]
        if cls < 93:
            html = ("# Документ\n\n" + "\n\n".join(paras) + "\n").encode()
            name, ext = "ru", "md"
        elif cls == 93:  # declared windows-1251 page (charset sniffer path)
            body = "".join(f"<p>{p}</p>" for p in paras)
            html = ('<html><head><meta charset="windows-1251"></head><body>'
                    "<h1>Документ</h1>" + body + "</body></html>"
                    ).encode("cp1251")
            name, ext = "ru1251", "html"
        elif cls == 94:  # undeclared koi8-r page (case-heuristic path)
            html = ("# Документ\n\n" + "\n\n".join(paras) + "\n"
                    ).encode("koi8_r")
            name, ext = "rukoi8", "md"
        else:            # undeclared cp1251 page (case-heuristic path)
            html = ("# Документ\n\n" + "\n\n".join(paras) + "\n"
                    ).encode("cp1251")
            name, ext = "ru1251", "md"
    else:
        text = _paragraph(rng, lo=4, hi=8)
        name, ext = "wet", "txt"
    url = f"https://host{host}.example/{name}/{doc_id}.{ext}"
    return url, html, text, lang


def generate_pages(n_docs: int, seed: int = 42,
                   include_fixtures: bool = True,
                   heaviness: int = 1) -> pd.DataFrame:
    """``heaviness`` multiplies generated content size (default 1 keeps the
    test goldens stable); the scaling bench uses >1 so per-doc parse cost
    approximates real Common-Crawl page sizes. With ``include_fixtures``
    the full fixture set always ships, so the result has
    ``max(n_docs, len(FIXTURE_ROWS))`` rows."""
    rows = list(FIXTURE_ROWS) if include_fixtures else []
    rows.extend(_row(i, seed, heaviness=heaviness)
                for i in range(max(0, n_docs - len(rows))))
    if not rows:
        return pd.DataFrame({"url": pd.Series(dtype="object"),
                             "warc_ts": pd.Series(dtype="datetime64[us, UTC]"),
                             "html": pd.Series(dtype="object"),
                             "text": pd.Series(dtype="object"),
                             "lang": pd.Series(dtype="object")})
    urls, htmls, texts, langs = zip(*rows)
    ts = [_EPOCH + dt.timedelta(seconds=37 * i) for i in range(len(rows))]
    return pd.DataFrame({
        "url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs,
    })


PAGES_ARROW_SCHEMA = to_arrow_schema(PAGES_SCHEMA)


def write_pages_parquet(path: str, n_docs: int, seed: int = 42,
                        include_fixtures: bool = True,
                        row_group_docs: int = 2000,
                        heaviness: int = 1) -> int:
    """Write the synthetic table directly via pyarrow (no Spark needed)."""
    df = generate_pages(n_docs, seed=seed, include_fixtures=include_fixtures,
                        heaviness=heaviness)
    table = pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                 preserve_index=False)
    pq.write_table(table, path, row_group_size=row_group_docs,
                   compression="zstd")
    return len(df)
