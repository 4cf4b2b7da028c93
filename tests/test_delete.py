"""delete_urls: bucket-local DELETE across warehouse tables (J4 cascade)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docling_rag_spark.plans.job import delete_urls, run_extraction
from docling_rag_spark.sources.pages import write_pages_parquet


def _chunk_urls(spark, out):
    return {r["url"] for r in
            spark.read.parquet(os.path.join(out, "chunks"))
            .select("url").distinct().collect()}


def test_delete_urls_cascade(spark, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 80)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)

    before = _chunk_urls(spark, out)
    victims = sorted(before)[:3]
    survivors = before - set(victims)
    victim_chunks = (spark.read.parquet(os.path.join(out, "chunks"))
                     .filter(F.col("url").isin(victims)).count())

    # snapshot file lists of every bucket dir to prove locality afterwards
    def file_map(table):
        m = {}
        tdir = os.path.join(out, table)
        for b in os.listdir(tdir):
            d = os.path.join(tdir, b)
            m[b] = sorted(f for f in os.listdir(d)
                          if not f.startswith((".", "_")))
        return m
    chunks_files_before = file_map("chunks")

    report = delete_urls(spark, out, victims, num_buckets=8,
                         tables=("chunks", "extracted"))
    assert report["rows_deleted"]["chunks"] == victim_chunks > 0
    assert report["rows_deleted"]["extracted"] == len(victims)

    after = _chunk_urls(spark, out)
    assert after == survivors
    ex_urls = {r["url"] for r in
               spark.read.parquet(os.path.join(out, "extracted"))
               .select("url").collect()}
    assert not (ex_urls & set(victims))

    # untouched buckets kept their exact files (bucket-local rewrite)
    rewritten = {f"bucket={b}" for b in report["buckets_rewritten"]}
    chunks_files_after = file_map("chunks")
    for b, files in chunks_files_before.items():
        if b not in rewritten:
            assert chunks_files_after[b] == files, b

    # parquet stays readable bucket-by-bucket (incl. emptied buckets)
    for b, files in chunks_files_after.items():
        for f in files:
            pq.read_table(os.path.join(out, "chunks", b, f))


def test_embeddings_follow_the_pinned_spec_through_delete(spark, tmp_path):
    """``embed_warehouse`` buckets ``embeddings`` at the warehouse's pinned
    modulus, so a delete's bucket-local rewrite finds every embedding row
    of its urls and exact search stops returning them; a modulus that
    differs from the pin is refused."""
    import pytest

    from docling_rag_spark.api.service import search_warehouse
    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.plans.job import embed_warehouse

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 40)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    with pytest.raises(wh.BucketSpecMismatch):
        embed_warehouse(spark, out, num_buckets=64)
    emb = spark.read.parquet(embed_warehouse(spark, out))
    victims = sorted(_chunk_urls(spark, out))[:5]
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    query = chunks.filter(chunks.url == victims[0]).first()["text"]
    hits = search_warehouse(spark, out, query, top_k=3, log=False,
                            mode="exact")
    assert victims[0] in {h["url"] for h in hits}
    assert emb.filter(emb.url.isin(victims)).count() > 0

    delete_urls(spark, out, victims)
    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    assert emb.filter(emb.url.isin(victims)).count() == 0
    hits = search_warehouse(spark, out, query, top_k=3, log=False,
                            mode="exact")
    assert hits and not ({h["url"] for h in hits} & set(victims))


def test_delete_cascades_into_ann_index(spark, spark_jobs, tmp_path):
    """A deleted url must vanish from the materialized ANN index — its one
    IVF-PQ table — while the codebooks stay: a stale index would keep
    ranking its chunks in mode=ann searches. Every Spark job of the
    delete is tagged ``delete:<step>``."""
    from docling_rag_spark.plans.ann_index import build_ann_index
    from docling_rag_spark.plans.job import embed_warehouse

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 60)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    emb_dir = embed_warehouse(spark, out, num_buckets=8)
    build_ann_index(spark, spark.read.parquet(emb_dir),
                    os.path.join(out, "ann"), id_cols=("url", "chunk_id"))
    assert sorted(os.listdir(os.path.join(out, "ann"))) == \
        ["pq", "pq_books.json"]

    victims = sorted(_chunk_urls(spark, out))[:2]
    report, descs = spark_jobs(lambda: delete_urls(spark, out, victims,
                                                   num_buckets=8))
    assert all(d and d.startswith("delete:") for d in descs), descs
    assert {"delete:chunks", "delete:extracted", "delete:embeddings",
            "delete:ann"} <= set(descs), descs
    # the urls' buckets are hashed on the driver and each table's rows
    # before the rewrite, the index's too, come from its files' footers:
    # no plan or count job, and the index is read with its declared schema
    assert "delete:plan" not in descs, descs
    # 26 with the plan job and a count per table; 18 with the index's
    # footer-inference read and whole-index count
    assert len(descs) == 15, descs
    assert sorted(os.listdir(os.path.join(out, "ann"))) == \
        ["pq", "pq_books.json"]
    assert report["ann_rows_deleted"].get("ann/pq", 0) > 0, report
    idx_urls = {r["url"] for r in
                spark.read.parquet(os.path.join(out, "ann", "pq"))
                .select("url").distinct().collect()}
    assert not (idx_urls & set(victims))


def test_ann_rebuild_does_not_undo_a_concurrent_delete(spark, tmp_path,
                                                       monkeypatch):
    """A delete that lands while a rebuild is encoding rows it read before
    the delete cascades into the live index only. The rebuild's swap must
    then refuse (CommitConflict) and keep that index: installing its own
    rows would bring the deleted url back into mode=ann search."""
    import pytest

    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.plans import ann_index as AI
    from docling_rag_spark.plans.job import embed_warehouse

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 40)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    emb = spark.read.parquet(embed_warehouse(spark, out, num_buckets=8))
    ann = os.path.join(out, "ann")
    AI.build_ann_index(spark, emb, ann, id_cols=("url", "chunk_id"))
    # the rebuild's input, read before the delete
    before = spark.createDataFrame(emb.collect(), emb.schema)
    victim = sorted(_chunk_urls(spark, out))[0]
    encode = AI._encode

    def encode_after_delete(*args, **kwargs):
        delete_urls(spark, out, [victim], num_buckets=8)
        return encode(*args, **kwargs)

    monkeypatch.setattr(AI, "_encode", encode_after_delete)
    with pytest.raises(wh.CommitConflict):
        AI.build_ann_index(spark, before, ann, id_cols=("url", "chunk_id"))
    urls = {r["url"] for r in spark.read.parquet(os.path.join(ann, "pq"))
            .select("url").distinct().collect()}
    assert urls and victim not in urls


def test_auto_search_runs_exact_when_the_index_has_no_rows(spark, tmp_path):
    """Deleting every url the index holds leaves its books but no index
    rows; a mode=auto search must then run exact over the chunks that
    remain (here: one url the index never covered) instead of failing on
    the empty index."""
    from pyspark.sql import functions as F

    from docling_rag_spark.api.service import search_warehouse
    from docling_rag_spark.plans.ann_index import BOOKS, build_ann_index
    from docling_rag_spark.plans.job import embed_warehouse

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 40)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    emb_dir = embed_warehouse(spark, out, num_buckets=8)
    *indexed, kept = sorted(_chunk_urls(spark, out))
    build_ann_index(spark, spark.read.parquet(emb_dir)
                    .filter(F.col("url") != kept),
                    os.path.join(out, "ann"), id_cols=("url", "chunk_id"))

    delete_urls(spark, out, indexed, num_buckets=8)
    assert os.listdir(os.path.join(out, "ann")) == [BOOKS]
    hits = search_warehouse(spark, out, "data table", top_k=3, log=False,
                            mode="auto")
    assert hits and {h["url"] for h in hits} == {kept}


def test_delete_is_visible_to_extraction_conflict_check(spark, tmp_path):
    """An extraction job whose base state predates a concurrent delete must
    raise CommitConflict instead of silently resurrecting deleted urls."""
    import pytest

    from docling_rag_spark.io import warehouse as wh

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 40)
    run_extraction(spark, pages, out, num_buckets=8)

    victims = sorted(_chunk_urls(spark, out))[:1]
    report = delete_urls(spark, out, victims, num_buckets=8)
    # simulate the delete landing AFTER a second job read its base state:
    # push the delete's lineage stamp into the future relative to that job
    future = wh.now() + 10_000
    rows = [{"input_snapshot_id": "delete-future", "bucket": b,
             "doc_count": 0, "chunk_count": 0, "failure_count": 0,
             "started_at": future, "finished_at": future}
            for b in report["buckets_rewritten"]]
    wh.append_lineage(out, "delete-future", rows)
    with pytest.raises(wh.CommitConflict):
        run_extraction(spark, pages, out, snapshot_id="snap-rerun",
                       num_buckets=8)


def test_delete_cascades_into_registry(spark, tmp_path):
    """The cascade covers the registry card table: a deleted document's
    card must vanish with its rows."""
    import pandas as pd

    from docling_rag_spark.plans.registry import upsert_registry_table

    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 40)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)

    urls = sorted(_chunk_urls(spark, out))
    victim, survivor = urls[0], urls[1]
    upsert_registry_table(
        spark, out,
        spark.createDataFrame(
            pd.DataFrame({"url": [victim, survivor],
                          "title": ["vic", "sur"]})),
        num_buckets=8)

    report = delete_urls(spark, out, [victim], num_buckets=8)
    reg = spark.read.parquet(os.path.join(out, "registry"))
    assert {r["url"] for r in reg.select("url").collect()} == {survivor}
    assert report["rows_deleted"]["registry"] == 1


def test_delete_full_wipe_leaves_readable_state(spark, tmp_path):
    """Deleting every url that has chunks leaves the chunks table readable
    and empty, not file-less dirs that break later schema inference."""
    pages = str(tmp_path / "pages.parquet")
    out = str(tmp_path / "wh")
    write_pages_parquet(pages, 30)
    run_extraction(spark, pages, out, num_buckets=8, salt_partitions=4)
    urls = sorted(_chunk_urls(spark, out))

    delete_urls(spark, out, urls, num_buckets=8)
    chunks = spark.read.parquet(os.path.join(out, "chunks"))
    assert chunks.count() == 0


def test_generate_pages_empty_and_fixture_floor():
    from docling_rag_spark.sources.pages import FIXTURE_ROWS, generate_pages
    empty = generate_pages(0, include_fixtures=False)
    assert len(empty) == 0
    assert list(empty.columns) == ["url", "warc_ts", "html", "text", "lang"]
    small = generate_pages(5)
    assert len(small) == len(FIXTURE_ROWS)
