"""Physical data layout: url-sorted row groups within buckets.

Every bucketed write sorts within partitions by (bucket, url[, chunk_id])
— the sort satisfies the partitionBy write's required child ordering, so
it REPLACES the bucket-only sort Spark would insert rather than adding
one. The payoff is tight, disjoint parquet min/max statistics on url per
row group: a point lookup or delete rewrite with a pushed url predicate
prunes row groups instead of scanning the whole multi-GB bucket at
production scale (the Iceberg analog: a sort order on the table spec).
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import PAGES_ARROW_SCHEMA, generate_pages


def _assert_url_sorted(table_dir: str) -> int:
    files = glob.glob(os.path.join(table_dir, "bucket=*", "*.parquet"))
    assert files
    checked = 0
    for f in files:
        urls = pq.read_table(f, columns=["url"])["url"].to_pylist()
        assert urls == sorted(urls), f"{f} not url-sorted"
        checked += len(urls)
    return checked


@pytest.fixture(scope="module")
def wh_dir(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("layout")
    base = generate_pages(120, seed=77)
    p = str(tmp / "p.parquet")
    pq.write_table(pa.Table.from_pandas(base, schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), p)
    out = str(tmp / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    return out


def test_extraction_writes_url_sorted_buckets(wh_dir):
    assert _assert_url_sorted(os.path.join(wh_dir, "extracted")) == 120
    assert _assert_url_sorted(os.path.join(wh_dir, "chunks")) > 0


def test_chunks_sorted_by_url_then_chunk_id(wh_dir):
    for f in glob.glob(os.path.join(wh_dir, "chunks", "bucket=*",
                                    "*.parquet")):
        t = pq.read_table(f, columns=["url", "chunk_id"])
        pairs = list(zip(t["url"].to_pylist(), t["chunk_id"].to_pylist()))
        assert pairs == sorted(pairs), f"{f} not (url, chunk_id)-sorted"


def test_delete_rewrite_stays_sorted(spark, wh_dir):
    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.plans.job import delete_urls

    df = wh.read_table(spark, wh_dir, "extracted")
    victim = df.select("url").orderBy("url").limit(1).collect()[0]["url"]
    delete_urls(spark, wh_dir, [victim])
    assert _assert_url_sorted(os.path.join(wh_dir, "extracted")) == 119


def _one_sorted_file_per_bucket(table_dir: str, key: tuple[str, ...]) -> int:
    dirs = glob.glob(os.path.join(table_dir, "bucket=*"))
    assert dirs
    rows = 0
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{d}: {len(files)} files"
        t = pq.read_table(files[0], columns=list(key))
        keys = list(zip(*(t[c].to_pylist() for c in key)))
        assert keys == sorted(keys), f"{d} not {key}-sorted"
        rows += len(keys)
    return rows


@pytest.mark.parametrize("writer", ["extraction", "delete", "registry",
                                    "rebucket"])
def test_every_bucket_writer_leaves_one_sorted_file_per_bucket(
        spark, tmp_path, writer):
    """Every bucket writer stages through the one rewrite path, so each
    leaves exactly one (bucket, natural key)-sorted file per bucket."""
    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.plans.job import delete_urls
    from docling_rag_spark.plans.maintenance import rebucket_warehouse
    from docling_rag_spark.plans.registry import upsert_registry_table

    p = str(tmp_path / "p.parquet")
    pq.write_table(pa.Table.from_pandas(generate_pages(60, seed=78),
                                        schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    urls = sorted(r["url"] for r in wh.read_table(spark, out, "extracted")
                  .select("url").collect())
    table, key = "chunks", ("url", "chunk_id")
    if writer == "delete":
        delete_urls(spark, out, urls[::7])
    elif writer == "registry":
        table, key = "registry", ("url",)
        upsert_registry_table(spark, out, spark.createDataFrame(
            [(u, f"title {i}", None, None, ["t"], "en", 1, None)
             for i, u in enumerate(urls[::2])],
            "url string, title string, author string, topic string, "
            "tags array<string>, lang string, n_chunks bigint, "
            "added_at timestamp"))
    elif writer == "rebucket":
        assert rebucket_warehouse(spark, out, 8)["rebucketed"]
    assert _one_sorted_file_per_bucket(os.path.join(out, table), key) > 0
