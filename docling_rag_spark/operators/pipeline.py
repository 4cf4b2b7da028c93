"""The fused parse+chunk Spark stage (the reference's indexing loop, §3.1).

One Python stage performs format sniff -> extract -> chunk per Arrow batch
— the Spark analog of the reference's fused per-file loop iteration
(core/indexer.py:71-74: parse then chunk in the same pass, no materialized
intermediate). Fusing avoids a shuffle between parse and chunk; the only
shuffle in the whole extraction job is the bucket routing *before* the
UDF, which balances host-skewed url distributions across executors.

The extraction job runs it as ``stage_documents``, whose task also
projects ``extracted`` and explodes ``chunks`` in Arrow and writes both
tables' staged files (core/indexer.py:66-116: parse, chunk, store in one
pass). ``extract_documents`` returns the doc rows to queries, and
``chunks_table``/``extracted_table`` are the same projections in Spark.

The row contracts are module constants: ``PAGES_SCHEMA`` for the input,
``DOC_SCHEMA`` for the UDF's output and ``STAGED_SCHEMAS`` for the two
staged tables, so a job plans no Spark projection to learn them.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_rag_spark.config import CHUNK_MAX_TOKENS, DEFAULT_SALT_PARTITIONS

# The pages contract (BASELINE.json input_hint): the columns the parse
# reads, in this order. sources/pages writes it, the extraction job reads
# the pages table with it and queries/extraction synthesizes it.
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

# Every field is nullable, nested ones included: the warehouse's pinned
# table schemas (io/warehouse.py) are, as any parquet read makes them, and
# the extraction job writes its tables straight from these rows.
CHUNK_STRUCT = T.StructType([
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("context_text", T.StringType()),
    T.StructField("page_number", T.IntegerType()),
    T.StructField("element_type", T.StringType()),
    T.StructField("headings", T.ArrayType(T.StringType())),
    T.StructField("span", T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
    ])),
    T.StructField("token_count", T.IntegerType()),
])

DOC_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("format", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("encoding", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("chunks", T.ArrayType(CHUNK_STRUCT)),
])

# The staged tables' rows (FIXTURES.md §2), as ``extracted_table`` and
# ``chunks_table`` project them from DOC_SCHEMA rows, plus the ``bucket``
# partition column: the schemas the extraction job pins at commit.
_EXTRACTED_DOC_COLS = ("url", "format", "status", "encoding", "error",
                       "title", "lang", "extracted_text", "n_blocks")
_BUCKET = T.StructField("bucket", T.IntegerType())
STAGED_SCHEMAS = {
    "chunks": T.StructType([DOC_SCHEMA["url"], *CHUNK_STRUCT.fields,
                            _BUCKET]),
    "extracted": T.StructType([
        *(DOC_SCHEMA[c] for c in _EXTRACTED_DOC_COLS),
        T.StructField("n_chunks", T.IntegerType()), DOC_SCHEMA["warc_ts"],
        _BUCKET]),
}


def _parse_chunk_batches(batches: Iterator[pd.DataFrame],
                         max_tokens: int) -> Iterator[pd.DataFrame]:
    """Arrow-batch worker: (url, html, text, lang) -> DOC_SCHEMA rows."""
    # imports inside the worker: the package is shipped via addPyFile
    from docling_rag_spark.operators.blocks import chunk_blocks
    from docling_rag_spark.operators.dispatch import parse_document_ex

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "url", "warc_ts", "lang", "format", "status", "encoding",
            "error", "title", "extracted_text", "n_blocks", "chunks")}
        for url, warc_ts, html, text, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]):
            fmt, blocks, status, error, enc = parse_document_ex(
                html if isinstance(html, (bytes, bytearray)) else None,
                text if isinstance(text, str) else None,
            )
            extracted, chunks = chunk_blocks(blocks, max_tokens=max_tokens)
            title = next((b.text for b in blocks if b.kind == "heading"), None)
            out["url"].append(url)
            out["warc_ts"].append(warc_ts)
            out["lang"].append(lang)
            out["format"].append(fmt)
            out["status"].append(status)
            out["encoding"].append(enc)
            out["error"].append(error)
            out["title"].append(title)
            out["extracted_text"].append(extracted)
            out["n_blocks"].append(len(blocks))
            out["chunks"].append([
                {
                    "chunk_id": c.chunk_id,
                    "text": c.text,
                    "context_text": c.context_text,
                    "page_number": c.page_number,
                    "element_type": c.element_type,
                    "headings": c.headings,
                    "span": {"start": c.span[0], "end": c.span[1]},
                    "token_count": c.token_count,
                }
                for c in chunks
            ])
        yield pd.DataFrame(out)


def extract_documents(pages: DataFrame,
                      max_tokens: int = CHUNK_MAX_TOKENS,
                      salt_partitions: int | None = DEFAULT_SALT_PARTITIONS,
                      ) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> doc-level DOC_SCHEMA rows.

    ``salt_partitions`` repartitions on a salted url hash before the UDF so
    that host-heavy url distributions (many pages of one host in one input
    file) spread evenly across executors — the skew mitigation the reference
    lacks (SURVEY.md §4 "Skew handling"). Column pruning: only the four
    needed columns cross the Arrow boundary.
    """
    cols = pages.select(*PAGES_SCHEMA.names)
    if salt_partitions:
        cols = cols.repartition(salt_partitions, F.xxhash64("url", F.lit(0x5A17)))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _parse_chunk_batches(batches, max_tokens)

    return cols.mapInPandas(fn, schema=DOC_SCHEMA)


def _doc_tables(slices, max_tokens: int):
    """``(bucket, pages)`` slices -> ``write_bucket_files`` slices: each
    slice parsed and chunked, its ``extracted`` rows projected and its
    ``chunks`` rows exploded in Arrow (``extracted_table``/
    ``chunks_table`` minus ``bucket``)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    doc_schema = to_arrow_schema(DOC_SCHEMA)
    for b, pages in slices:
        (pdf,) = _parse_chunk_batches([pages.to_pandas()], max_tokens)
        docs = pa.Table.from_pandas(pdf, schema=doc_schema,
                                    preserve_index=False)
        chunks = docs.column("chunks").combine_chunks()
        extracted = (docs.select(list(_EXTRACTED_DOC_COLS))
                     .append_column("n_chunks", pc.list_value_length(chunks))
                     .append_column("warc_ts", docs.column("warc_ts")))
        flat = pa.Table.from_struct_array(pc.list_flatten(chunks))
        url = docs.column("url").take(pc.list_parent_indices(chunks))
        failures = pc.sum(pc.equal(docs.column("status"), "error")).as_py()
        yield b, "extracted", extracted, failures or 0
        yield b, "chunks", flat.add_column(0, "url", url), 0


def stage_documents(pages: DataFrame, staging: str,
                    max_tokens: int = CHUNK_MAX_TOKENS) -> DataFrame:
    """Parse, chunk and stage in one task: ``pages`` (``bucket`` plus the
    page columns, each partition sorted by bucket) -> the manifest rows of
    the ``extracted`` and ``chunks`` files written under
    ``<staging>/<table>/bucket=<b>/`` (io/warehouse.write_bucket_files),
    one url-sorted file per table per bucket of each task."""
    from docling_rag_spark.io import warehouse as wh

    cols = pages.select("bucket", *PAGES_SCHEMA.names)
    dirs = {t: os.path.join(staging, t) for t in ("extracted", "chunks")}

    def fn(batches):
        return wh.write_bucket_files(
            _doc_tables(wh.bucket_slices(batches), max_tokens), dirs)

    return cols.mapInArrow(fn, wh.MANIFEST_DDL)


def chunks_table(docs: DataFrame,
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Explode doc rows into the chunk-row contract (FIXTURES.md §2).
    ``extra_cols`` pass staged columns (e.g. the bucket partition key)
    through instead of recomputing them per exploded row."""
    c = F.explode("chunks").alias("c")
    return (docs
            .select("url", c, *extra_cols)
            .select(
                "url",
                F.col("c.chunk_id").alias("chunk_id"),
                F.col("c.text").alias("text"),
                F.col("c.context_text").alias("context_text"),
                F.col("c.page_number").alias("page_number"),
                F.col("c.element_type").alias("element_type"),
                F.col("c.headings").alias("headings"),
                F.col("c.span").alias("span"),
                F.col("c.token_count").alias("token_count"),
                *extra_cols,
            ))


def extracted_table(docs: DataFrame,
                    extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Doc-level output: byte-identity comparison target + registry fields."""
    return docs.select(*_EXTRACTED_DOC_COLS,
                       F.size("chunks").alias("n_chunks"), "warc_ts",
                       *extra_cols)


def documents_table(extracted: DataFrame) -> DataFrame:
    """Registry rows from the extracted table; stub title = url stem when no
    heading was found (reference stub-title contract, core/indexer.py:102)."""
    stem = F.regexp_replace(
        F.element_at(F.split(F.col("url"), "/"), -1), r"\.[^.]*$", "")
    return extracted.select(
        "url",
        F.coalesce("title", stem).alias("title"),
        "lang",
        "n_chunks",
        F.col("warc_ts").alias("added_at"),
    )
