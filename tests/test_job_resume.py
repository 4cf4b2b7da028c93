"""Lineage, checkpoint resume, idempotent overwrite (SURVEY.md M4)."""

import os

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import run_extraction
from docling_rag_spark.sources.pages import write_pages_parquet

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
    assert set(report.phase_sec) == {"udf_stage", "derive", "commit"}
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
