"""Spark-free replay of the fused parse+chunk UDF body.

The replay feeds the benchmark's pages through the same body the Spark
stage runs (``operators.pipeline._parse_chunk_batches``: ``parse_document_ex``
then ``chunk_blocks`` per page), in Arrow-batch-sized pandas frames, and
converts each output frame to Arrow with the UDF's output schema. It serves
two ends:

* the expected output of the ``extract`` workload (per-url digests and
  counts the warehouse must match), and
* in a traced run, per-layer seconds from spans around the operators.
"""

from __future__ import annotations

import contextlib
import hashlib
import time

import pyarrow as pa
import pyarrow.parquet as pq

from spans import Spans

# Spark's spark.sql.execution.arrow.maxRecordsPerBatch in session.get_spark
ARROW_BATCH_ROWS = 512

_D = "docling_rag_spark.operators.dispatch"
LAYER_SPANS = {
    "parse": [f"{_D}:parse_document_ex"],
    "sniff": [f"{_D}:sniff_format"],
    "decode": [f"{_D}:detect_decode"],
    "html": [f"{_D}:extract_html"],
    "markdown": [f"{_D}:extract_markdown"],
    "docx": [f"{_D}:extract_docx"],
    "pdf": [f"{_D}:classify_pdf", f"{_D}:blocks_from_pages"],
    "chunk": ["docling_rag_spark.operators.blocks:chunk_blocks"],
    "count_tokens": ["docling_rag_spark.operators.blocks:count_tokens"],
}
FORMATS = ("html", "markdown", "pdf", "docx")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def chunk_fold(chunks) -> str:
    """The chunk fold of ``queries.extraction.extract_digest``:
    md5 over ``chunk_id:md5(text):span.start:span.end`` joined by '|'."""
    return _md5("|".join(
        f"{c['chunk_id']}:{_md5(c['text'])}:{c['span']['start']}:"
        f"{c['span']['end']}" for c in chunks))


def _batches(pages_path: str):
    pf = pq.ParquetFile(pages_path)
    for rb in pf.iter_batches(batch_size=ARROW_BATCH_ROWS,
                              columns=["url", "warc_ts", "html", "text",
                                       "lang"]):
        yield rb.to_pandas()


def run(pages_path: str, spans: Spans | None = None) -> dict:
    """Replay every page. Returns the expected digests and counts; with
    ``spans`` also the per-layer seconds of the replay."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from docling_rag_spark.config import CHUNK_MAX_TOKENS
    from docling_rag_spark.operators.pipeline import (
        DOC_SCHEMA,
        _parse_chunk_batches,
    )

    arrow_schema = to_arrow_schema(DOC_SCHEMA)
    digests: dict[str, list] = {}
    formats: dict[str, int] = {}
    n_chunks = n_errors = 0
    body_s = arrow_s = 0.0
    with (spans.patched(LAYER_SPANS) if spans
          else contextlib.nullcontext()):
        # read the input up front: the timed body starts at pandas frames,
        # as the UDF's does
        batches = list(_batches(pages_path))
        out = _parse_chunk_batches(iter(batches), CHUNK_MAX_TOKENS)
        while True:
            t0 = time.perf_counter()
            try:
                pdf = next(out)
            except StopIteration:
                body_s += time.perf_counter() - t0
                break
            t1 = time.perf_counter()
            pa.RecordBatch.from_pandas(pdf, schema=arrow_schema,
                                       preserve_index=False)
            t2 = time.perf_counter()
            body_s += t1 - t0
            arrow_s += t2 - t1
            for url, text, chunks, status, fmt in zip(
                    pdf["url"], pdf["extracted_text"], pdf["chunks"],
                    pdf["status"], pdf["format"]):
                digests[url] = [_md5(text), chunk_fold(chunks),
                                len(chunks), status]
                formats[fmt] = formats.get(fmt, 0) + 1
                n_chunks += len(chunks)
                n_errors += status == "error"
    result = {"digests": digests, "docs": len(digests), "chunks": n_chunks,
              "failures": n_errors, "formats": formats}
    if spans is not None:
        result["layers"] = _layers(spans, body_s, arrow_s, formats,
                                   len(digests), n_errors, n_chunks)
    return result


def _layers(sp: Spans, body_s: float, arrow_s: float, formats: dict,
            docs: int, errors: int, chunks: int) -> dict:
    extract = {f: sp.s(f) for f in FORMATS}
    parse_children = sp.s("sniff") + sp.s("decode") + sum(extract.values())
    m = {
        "operators.dispatch.sniff_s": sp.s("sniff"),
        "operators.dispatch.self_s": sp.s("parse") - parse_children,
        "operators.charset.decode_s": sp.s("decode"),
        "operators.blocks.chunk_s": sp.s("chunk"),
        "operators.blocks.chunks": chunks,
        "functions.tokens.count_s": sp.s("count_tokens"),
        "functions.tokens.calls": sp.n("count_tokens"),
        # the body's own time: the output dict and pandas frame build
        "operators.pipeline.build_s": body_s - sp.s("parse") - sp.s("chunk"),
        "operators.pipeline.arrow_s": arrow_s,
        "operators.dispatch.error_frac": errors / docs if docs else 0.0,
        "replay.total_s": body_s + arrow_s,
    }
    for f in FORMATS:
        m[f"operators.extract_{f}.s"] = extract[f]
        m[f"operators.extract_{f}.docs"] = formats.get(f, 0)
    return m

