"""Driver-side twins of Spark expressions: the url-bucket hash and the
search decorate, each checked against the Spark code it stands in for."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docling_rag_spark.api import service
from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import bucket_of, url_buckets, xxhash64

# every length 0-100 walks each XXH64 path: 32-byte stripes, then 8-, 4-
# and 1-byte tails; then multi-byte UTF-8 of 2, 3 and 4 bytes per char
HASHED = (["x" * n for n in range(101)]
          + ["a\x00b", "\x00" * 9, "café crème", "naïve é" * 7,
             "中文字符" * 5, "\U0001F600" * 9 + "z",
             "https://host0.example/page/7.html"])
MODULI = (1, 7, 8, 64, 256)


def test_driver_hash_equals_bucket_of(spark):
    rows = (spark.createDataFrame([(s,) for s in HASHED], "s string")
            .select("s", F.xxhash64("s").alias("h"),
                    *[bucket_of(F.col("s"), m).alias(f"b{m}")
                      for m in MODULI])
            .collect())
    assert len(rows) == len(HASHED)
    for r in rows:
        assert xxhash64(r["s"]) == r["h"], r["s"]
        for m in MODULI:
            assert url_buckets([r["s"]], m) == [r[f"b{m}"]], (r["s"], m)


CHUNKS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("chunk_id", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("headings", T.ArrayType(T.StringType())),
    T.StructField("page_number", T.IntegerType()),
    T.StructField("element_type", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
])
EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
])
ASTRAL = "a" * 299 + "\U0001F600\U0001F601\nrest"
CHUNKS = [
    ("u://a", 0, "line one\nline two\n" + "w" * 400, ["H1", "H2"], 1,
     "text"),
    ("u://a", 1, None, None, None, "table"),
    ("u://b", 0, ASTRAL, ["H", None, "K"], 2, "text"),
    ("u://b", 1, "x", [], 3, None),
    ("u://d", 0, "no extracted row", [None], 4, "text"),
]
# written to a second file that lacks ``page_number``, a pinned column
OLD_ERA = [("u://c", 0, "an older file\n", ["Old"], "text")]
EXTRACTED = [("u://a", "Title A"), ("u://b", None), ("u://c", "Title C")]
HITS = [("u://a", 0, 0.9), ("u://a", 1, 0.5), ("u://b", 0, 0.5),
        ("u://b", 1, 0.25), ("u://c", 0, 0.7), ("u://d", 0, 0.1),
        ("u://a", 7, 0.05), ("u://zz", 0, 0.05)]


def _write(out: str, table: str, schema: T.StructType, rows: list[tuple],
           buckets: dict, name: str) -> None:
    """One ``name`` file per bucket that ``rows`` reach; the file's
    columns are ``schema``'s less ``bucket``."""
    arrow = to_arrow_schema(T.StructType(
        [f for f in schema.fields if f.name != "bucket"]))
    for b in sorted({buckets[r[0]] for r in rows}):
        d = wh.bucket_dir(os.path.join(out, table), b)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(arrow.names, r)) for r in rows if buckets[r[0]] == b],
            schema=arrow), os.path.join(d, name))


@pytest.fixture(scope="module")
def edge_wh(spark, tmp_path_factory):
    """A 4-bucket warehouse of edge rows, routed by Spark's ``bucket_of``."""
    out = str(tmp_path_factory.mktemp("edge") / "wh")
    urls = sorted({r[0] for r in CHUNKS + OLD_ERA + EXTRACTED})
    buckets = {r["url"]: r["b"] for r in
               spark.createDataFrame([(u,) for u in urls], "url string")
               .select("url", bucket_of(F.col("url"), 4).alias("b"))
               .collect()}
    _write(out, "chunks", CHUNKS_SCHEMA, CHUNKS, buckets, "part-0.parquet")
    _write(out, "chunks", T.StructType(
        [f for f in CHUNKS_SCHEMA.fields if f.name != "page_number"]),
        OLD_ERA, buckets, "part-1.parquet")
    _write(out, "extracted", EXTRACTED_SCHEMA, EXTRACTED, buckets,
           "part-0.parquet")
    wh.pin_table_schema(out, "chunks", CHUNKS_SCHEMA)
    wh.pin_table_schema(out, "extracted", EXTRACTED_SCHEMA)
    wh.pin_num_buckets(out, 4)
    return out


def _spark_decorate(spark, out: str, hits: list[dict],
                    include_text: bool) -> list[dict]:
    """The Spark projection the driver-side decorate replaced."""
    urls = sorted({h["url"] for h in hits})
    titles = {r["url"]: r["title"]
              for r in (wh.read_table(spark, out, "extracted")
                        .filter(F.col("url").isin(urls))
                        .select("url", "title").collect())}
    extra = ["text", "headings"] if include_text else []
    fields = ["heading_path", "preview", "page_number", "element_type",
              *extra]
    meta = {(r["url"], r["chunk_id"]): r.asDict()
            for r in (wh.read_table(spark, out, "chunks")
                      .filter(F.col("url").isin(urls)
                              & F.col("chunk_id").isin(
                                  sorted({h["chunk_id"] for h in hits})))
                      .select("url", "chunk_id",
                              F.array_join("headings", " > ")
                               .alias("heading_path"),
                              F.translate(F.substring("text", 1, 300),
                                          "\n", " ").alias("preview"),
                              "page_number", "element_type", *extra)
                      .collect())}
    rows = []
    for h in hits:
        m = meta.get((h["url"], h["chunk_id"]), {})
        rows.append({"url": h["url"], "chunk_id": h["chunk_id"],
                     "score": h["score"], "title": titles.get(h["url"]),
                     **{f: m.get(f) for f in fields}})
    rows.sort(key=lambda r: (-r["score"], r["url"], r["chunk_id"]))
    return rows


@pytest.mark.parametrize("spec", ["pinned", "unpinned", "rebucketing"])
def test_driver_decorate_equals_spark_projection(spark, edge_wh, tmp_path,
                                                 spec):
    """Null headings, a null heading element, newlines, an astral char at
    code point 300, null text, a hit with no ``extracted`` row or no
    chunk row, and a file lacking a pinned column: the driver-side
    decorate returns what the Spark projection does, reading the hit
    urls' buckets or, with no usable spec, every bucket."""
    import shutil

    out = str(tmp_path / "wh")
    shutil.copytree(edge_wh, out)
    props = os.path.join(out, "_schema", "_warehouse.json")
    if spec == "unpinned":
        os.remove(props)
    elif spec == "rebucketing":
        wh.mark_rebucket(out, 4, 8)
    hits = [{"url": u, "chunk_id": c, "score": s} for u, c, s in HITS]
    for include_text in (False, True):
        got = service._decorate(out, hits, include_text)
        assert got == _spark_decorate(spark, out, hits, include_text)
    by_key = {(r["url"], r["chunk_id"]): r for r in got}
    assert by_key[("u://b", 0)]["preview"] == "a" * 299 + "\U0001F600"
    assert by_key[("u://b", 0)]["heading_path"] == "H > K"
    assert by_key[("u://c", 0)]["page_number"] is None
    assert by_key[("u://c", 0)]["preview"] == "an older file "
    assert by_key[("u://d", 0)]["title"] is None
