"""fold_stream_chunks: streaming batch= deltas -> canonical bucketed table."""

from __future__ import annotations

import os

import pytest

from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import write_pages_parquet
from docling_rag_spark.streaming.fold import fold_stream_chunks


def _mk_rows(tmpl: dict, specs):
    rows = []
    for url, text, chunk_id in specs:
        d = dict(tmpl)
        d.update(url=url, chunk_id=chunk_id, text=text, context_text=text,
                 span={"start": 0, "end": len(text.encode())},
                 token_count=len(text.split()))
        rows.append(d)
    return rows


@pytest.fixture()
def warehouse(spark, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 30)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    return out


def _write_batches(spark, out, existing_url):
    base = spark.read.parquet(os.path.join(out, "chunks")).drop("bucket")
    tmpl = base.limit(1).collect()[0].asDict(recursive=True)

    b0 = _mk_rows(tmpl, [
        ("https://stream.example/a.md", "alpha streamed text", 0),
        ("https://stream.example/b.md", "bravo streamed text", 0),
        (existing_url, "re-ingested replacement", 0),
    ])
    b1 = _mk_rows(tmpl, [
        ("https://stream.example/a.md", "alpha updated in batch one", 0),
    ])
    schema = base.schema
    cdir = os.path.join(out, "chunks")
    spark.createDataFrame(b0, schema).write.mode("overwrite") \
        .parquet(os.path.join(cdir, "batch=0"))
    spark.createDataFrame(b1, schema).write.mode("overwrite") \
        .parquet(os.path.join(cdir, "batch=1"))


def test_fold_merges_latest_batch_per_url(spark, warehouse):
    out = warehouse
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    existing_url = chunks.select("url").orderBy("url").first()["url"]
    before = {(r["url"], r["chunk_id"]): r["text"] for r in
              chunks.select("url", "chunk_id", "text").collect()}

    _write_batches(spark, out, existing_url)
    report = fold_stream_chunks(spark, out, num_buckets=8,
                                include_newest=True)
    assert report["folded_batches"] == 2
    assert report["rows_folded"] == 3  # url a collapsed to its latest batch

    cdir = os.path.join(out, "chunks")
    assert not [d for d in os.listdir(cdir) if d.startswith("batch=")]

    after = {(r["url"], r["chunk_id"]): r["text"] for r in
             spark.read.parquet(cdir)
             .select("url", "chunk_id", "text").collect()}
    assert after[("https://stream.example/a.md", 0)] == \
        "alpha updated in batch one"
    assert after[("https://stream.example/b.md", 0)] == "bravo streamed text"
    assert after[(existing_url, 0)] == "re-ingested replacement"
    # replaced url: ALL its old chunks are gone, not just chunk_id 0
    assert not [k for k in after
                if k[0] == existing_url and k not in {(existing_url, 0)}]
    # every other base row untouched
    untouched = {k: v for k, v in before.items() if k[0] != existing_url}
    assert all(after[k] == v for k, v in untouched.items())


def test_fold_excludes_newest_by_default(spark, warehouse):
    out = warehouse
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    existing_url = chunks.select("url").orderBy("url").first()["url"]
    _write_batches(spark, out, existing_url)

    report = fold_stream_chunks(spark, out, num_buckets=8)
    assert report["folded_batches"] == 1
    left = [d for d in os.listdir(os.path.join(out, "chunks"))
            if d.startswith("batch=")]
    assert left == ["batch=1"]


def test_snapshots_cli_fold_verb(spark, warehouse, monkeypatch, capsys):
    """``snapshots_cli.py fold`` runs ``fold_stream_chunks`` with its
    defaults (the newest batch dir stays) and prints its report."""
    import importlib.util
    import json
    import sys

    import docling_rag_spark
    from docling_rag_spark import session

    out = warehouse
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    _write_batches(spark, out, chunks.select("url").orderBy("url")
                   .first()["url"])
    cli = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "snapshots_cli.py")
    spec = importlib.util.spec_from_file_location("snapshots_cli", cli)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(docling_rag_spark, "ship", lambda s: None)
    monkeypatch.setattr(sys, "argv", ["snapshots_cli.py", "fold",
                                      "--out", out])
    assert mod.main() == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["folded_batches"] == 1 and report["rows_folded"] == 3
    assert [d for d in os.listdir(os.path.join(out, "chunks"))
            if d.startswith("batch=")] == ["batch=1"]


def test_fold_noop_without_batches(spark, warehouse):
    report = fold_stream_chunks(spark, warehouse, num_buckets=8)
    assert report == {"folded_batches": 0, "rows_folded": 0}


def test_fold_pins_bucket_spec_for_next_extraction(spark, tmp_path):
    """A fold into a warehouse that holds only streamed batch dirs lays
    out buckets at the resolved default modulus and must pin it: left
    unpinned, the next plain extraction sees bucketed data with no spec
    and refuses to run."""
    from docling_rag_spark.config import DEFAULT_NUM_BUCKETS
    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.operators.pipeline import (
        chunks_table,
        extract_documents,
    )

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 30)
    (chunks_table(extract_documents(spark.read.parquet(pages))).limit(20)
     .write.parquet(os.path.join(out, "chunks", "batch=0")))

    report = fold_stream_chunks(spark, out, include_newest=True)
    assert report["rows_folded"] == 20 and report["buckets_rewritten"]
    assert wh.warehouse_num_buckets(out) == DEFAULT_NUM_BUCKETS
    rep = run_extraction(spark, pages, out, salt_partitions=4)
    assert rep.buckets_done == DEFAULT_NUM_BUCKETS
