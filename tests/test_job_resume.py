"""Lineage, checkpoint resume, idempotent overwrite (SURVEY.md M4)."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import bucket_of, run_extraction
from docling_rag_spark.sources.pages import (
    PAGES_ARROW_SCHEMA,
    generate_pages,
    write_pages_parquet,
)

N_DOCS = 60
N_BUCKETS = 8


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pages") / "pages.parquet"
    write_pages_parquet(str(p), N_DOCS)
    return str(p)


def test_full_run_and_lineage(spark, pages_path, tmp_path):
    out = str(tmp_path / "wh")
    report = run_extraction(spark, pages_path, out,
                            num_buckets=N_BUCKETS, salt_partitions=4)
    assert report.buckets_done == N_BUCKETS and report.buckets_skipped == 0
    assert report.doc_count == N_DOCS
    assert report.failure_count >= 1  # the corrupt fixture
    # per-phase walls are always reported, no env switch needed
    assert set(report.phase_sec) == {"udf_stage", "commit"}
    assert all(v >= 0 for v in report.phase_sec.values())
    rows = wh.read_lineage(out)
    assert {r["bucket"] for r in rows} == set(range(N_BUCKETS))
    assert sum(r["doc_count"] for r in rows) == N_DOCS
    # tables readable, chunk totals agree with lineage
    assert wh.read_table(spark, out, "extracted").count() == N_DOCS
    assert (wh.read_table(spark, out, "chunks").count()
            == sum(r["chunk_count"] for r in rows))
    # lineage as DataFrame (metrics surface)
    ldf = wh.lineage_df(spark, out)
    assert ldf.agg(F.sum("doc_count")).first()[0] == N_DOCS


def test_rerun_is_noop_idempotent(spark, pages_path, tmp_path):
    out = str(tmp_path / "wh")
    run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS, salt_partitions=4)
    before = wh.read_table(spark, out, "chunks").count()
    report2 = run_extraction(spark, pages_path, out,
                             num_buckets=N_BUCKETS, salt_partitions=4)
    assert report2.buckets_skipped == N_BUCKETS and report2.buckets_done == 0
    # no duplicates (D1)
    assert wh.read_table(spark, out, "chunks").count() == before


def test_crash_then_resume_completes(spark, pages_path, tmp_path):
    out = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS,
                       buckets_per_batch=3, salt_partitions=4,
                       _fail_after_batches=1)
    partial = wh.completed_buckets(out, "snap-0")
    assert len(partial) == 3
    report = run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS,
                            buckets_per_batch=3, salt_partitions=4)
    assert report.buckets_skipped == 3
    assert report.buckets_done == N_BUCKETS - 3
    # resumed output identical to a clean full run
    out2 = str(tmp_path / "wh2")
    run_extraction(spark, pages_path, out2, num_buckets=N_BUCKETS, salt_partitions=4)
    a, b = ({(r.url, r.chunk_id, r.text) for r in
             wh.read_table(spark, d, "chunks")
             .select("url", "chunk_id", "text").collect()}
            for d in (out, out2))
    assert a == b and len(a) > 0


def test_new_snapshot_overwrites_buckets(spark, pages_path, tmp_path):
    out = str(tmp_path / "wh")
    run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS, salt_partitions=4)
    n1 = wh.read_table(spark, out, "chunks").count()
    report = run_extraction(spark, pages_path, out, snapshot_id="snap-1",
                            num_buckets=N_BUCKETS, salt_partitions=4)
    assert report.buckets_done == N_BUCKETS  # new snapshot redoes all buckets
    # overwrite, not append
    assert wh.read_table(spark, out, "chunks").count() == n1


def test_staging_cleaned(spark, pages_path, tmp_path):
    out = str(tmp_path / "wh")
    run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS, salt_partitions=4)
    assert not os.path.exists(os.path.join(out, "_staging"))


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_no_persisted_blocks_leak(spark, pages_path, tmp_path):
    """The parse output lives in Spark's block store only for its batch:
    a finished job, a failed batch and a CommitConflict all leave the
    session holding no persisted data of the job."""
    before = _persisted_ids(spark)

    run_extraction(spark, pages_path, str(tmp_path / "ok"),
                   num_buckets=N_BUCKETS, salt_partitions=4)
    assert _persisted_ids(spark) == before

    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, pages_path, str(tmp_path / "crash"),
                       num_buckets=N_BUCKETS, buckets_per_batch=3,
                       salt_partitions=4, _fail_after_batches=1)
    assert _persisted_ids(spark) == before

    # a newer snapshot committed every bucket after this run's base state
    out = str(tmp_path / "ok")
    future = wh.now() + 10_000
    wh.append_lineage(out, "snap-new", [
        {"input_snapshot_id": "snap-new", "bucket": b, "doc_count": 0,
         "chunk_count": 0, "failure_count": 0,
         "started_at": future, "finished_at": future}
        for b in range(N_BUCKETS)])
    with pytest.raises(wh.CommitConflict):
        run_extraction(spark, pages_path, out, snapshot_id="snap-old",
                       num_buckets=N_BUCKETS, salt_partitions=4)
    assert _persisted_ids(spark) == before


def test_overwrite_batch_runs_two_tagged_jobs(spark, spark_jobs, pages_path,
                                              tmp_path):
    """A one-batch overwrite run is the routing exchange and the
    parse-and-stage task set: no pages footer read (the pages schema is
    declared), no persist count, no stats job, no separate
    chunks/extracted writes. Every job is tagged ``extract:*`` so an
    event log attributes it."""
    _, descs = spark_jobs(lambda: run_extraction(
        spark, pages_path, str(tmp_path / "wh"), num_buckets=N_BUCKETS,
        salt_partitions=4))
    assert 1 <= len(descs) <= 2, descs
    assert all(d and d.startswith("extract:") for d in descs), descs


def _write_pages(path, **columns):
    """A pages file of the generated rows with each of ``columns``
    replaced (by ``fn(column)``) or dropped (None)."""
    t = pa.Table.from_pandas(generate_pages(N_DOCS),
                             schema=PAGES_ARROW_SCHEMA, preserve_index=False)
    for name, col in columns.items():
        i = t.schema.get_field_index(name)
        t = t.remove_column(i) if col is None else t.set_column(
            i, name, col(t.column(name)))
    pq.write_table(t, path)


def _utf8_or_null(col):
    """``col``'s bytes as UTF-8 ``string`` values; null where they are
    not UTF-8 (PDFs, legacy charsets)."""
    def text(v):
        try:
            return v.decode()
        except (AttributeError, UnicodeDecodeError):
            return None
    return pa.array([text(v) for v in col.to_pylist()], pa.string())


def _extract(spark, pages, out) -> str:
    run_extraction(spark, pages, str(out), num_buckets=N_BUCKETS,
                   salt_partitions=4)
    return str(out)


def test_html_stored_as_string_is_parsed(spark, pages_path, tmp_path):
    """A pages file whose ``html`` column is UTF-8 ``string``, not
    ``binary``: the declared pages schema reads it as bytes, so each of
    its rows extracts as the binary file's row does. (With footer
    inference the parse saw ``str`` and every such row came out
    ``format='empty'``.)"""
    p = str(tmp_path / "pages.parquet")
    _write_pages(p, html=_utf8_or_null)
    assert pq.read_schema(p).field("html").type == pa.string()
    got, want = (
        {r.url: (r.format, r.status, r.extracted_text) for r in
         wh.read_table(spark, out, "extracted").collect()}
        for out in (_extract(spark, p, tmp_path / "s"),
                    _extract(spark, pages_path, tmp_path / "b")))
    t = pq.read_table(p, columns=["url", "html"]).to_pydict()
    kept = [u for u, h in zip(t["url"], t["html"]) if h is not None]
    assert kept
    assert {u: got[u] for u in kept} == {u: want[u] for u in kept}
    assert {got[u][0] for u in kept} - {"empty"}


@pytest.mark.parametrize("column", ["url", "text"])
def test_pages_without_a_contract_column_fail_before_any_task(
        spark, spark_jobs, tmp_path, column):
    """A declared schema would read a missing column as null (null urls,
    lost WET text): a pages file without a contract column fails on the
    driver instead, before any Spark job, and stages nothing."""
    p, out = str(tmp_path / "pages.parquet"), str(tmp_path / "wh")
    _write_pages(p, **{column: None})

    def run():
        with pytest.raises(AnalysisException, match=column):
            _extract(spark, p, out)

    _, descs = spark_jobs(run)
    assert descs == []
    assert not os.path.exists(os.path.join(out, "extracted"))


def test_staged_files_read_like_spark_written_files(spark, pages_path,
                                                    tmp_path):
    """The task-side writer's files carry what a Spark-written bucket
    file carries: the pinned schema is the Spark projection's, Spark's
    own inference over the files reproduces it, no file holds the
    ``bucket`` partition column or an Arrow schema blob, every column is
    optional, ``warc_ts`` is INT96, the key columns have min/max stats,
    and each bucket is one url-sorted file (no ``.crc`` sidecar)."""
    from docling_rag_spark.operators.pipeline import (
        DOC_SCHEMA,
        chunks_table,
        extracted_table,
    )

    out = str(tmp_path / "wh")
    run_extraction(spark, pages_path, out, num_buckets=N_BUCKETS,
                   salt_partitions=4)
    docs = spark.createDataFrame([], DOC_SCHEMA).withColumn(
        "bucket", bucket_of(F.col("url"), N_BUCKETS))
    for table, project in (("chunks", chunks_table),
                           ("extracted", extracted_table)):
        pinned = wh.pinned_table_schema(out, table)
        assert pinned == project(docs, extra_cols=("bucket",)).schema
        assert spark.read.parquet(os.path.join(out, table)).schema == pinned
        dirs = glob.glob(os.path.join(out, table, "bucket=*"))
        assert dirs
        for d in dirs:
            (name,) = os.listdir(d)
            pf = pq.ParquetFile(os.path.join(d, name))
            assert "bucket" not in pf.schema_arrow.names
            assert b"ARROW:schema" not in (pf.metadata.metadata or {})
            assert all(f.nullable for f in pf.schema_arrow)
            assert all(pf.schema.column(i).max_definition_level > 0
                       for i in range(len(pf.schema)))
            assert pf.metadata.num_row_groups == 1
            cols = {pf.schema.column(i).path: i
                    for i in range(len(pf.schema))}
            for key in wh.TABLE_KEYS[table]:
                stats = pf.metadata.row_group(0).column(cols[key]).statistics
                assert stats is not None and stats.has_min_max, key
            if table == "extracted":
                assert pf.schema.column(cols["warc_ts"]).physical_type \
                    == "INT96"
            keys = pf.read(columns=list(wh.TABLE_KEYS[table])).to_pylist()
            ordered = [tuple(r.values()) for r in keys]
            assert ordered == sorted(ordered)
