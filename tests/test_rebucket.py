"""Bucket-modulus (partition-spec) evolution: plans/maintenance.py.

The url-hash modulus is pinned warehouse metadata; jobs resolve it
instead of trusting a caller-supplied number, and ``rebucket_warehouse``
is the only way to change it — Iceberg's partition-spec evolution plus
``rewrite_data_files``, as one logged, retained commit.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.io import snapshots as snap
from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import delete_urls, run_extraction
from docling_rag_spark.plans.maintenance import rebucket_warehouse
from docling_rag_spark.sources.pages import PAGES_ARROW_SCHEMA, generate_pages


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), path)


def _content(spark, out, table):
    df = wh.read_table(spark, out, table)
    cols = sorted(c for c in df.columns if c != "bucket")
    return sorted(tuple(str(v) for v in r) for r in df.select(cols).collect())


def _bucket_ids(out, table):
    d = os.path.join(out, table)
    return sorted(int(e.split("=", 1)[1]) for e in os.listdir(d)
                  if e.startswith("bucket="))


def test_rebucket_grow_preserves_content(spark, tmp_path):
    base = generate_pages(20, seed=101)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    assert wh.warehouse_num_buckets(out) == 4
    golden = {t: _content(spark, out, t) for t in ("chunks", "extracted")}

    res = rebucket_warehouse(spark, out, 8)
    assert res["rebucketed"] and res["previous"] == 4
    assert wh.warehouse_num_buckets(out) == 8
    for t in ("chunks", "extracted"):
        assert _content(spark, out, t) == golden[t]
        assert max(_bucket_ids(out, t)) < 8
    # every row sits in the bucket its url hashes to at the NEW modulus
    df = wh.read_table(spark, out, "extracted")
    import pyspark.sql.functions as F
    bad = df.filter(
        F.col("bucket") != F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))
    assert bad.count() == 0


def test_jobs_resolve_new_spec_after_rebucket(spark, tmp_path):
    base = generate_pages(20, seed=102)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    rebucket_warehouse(spark, out, 8)
    # a delete with NO modulus argument resolves the pinned spec and
    # prunes at the new layout
    victim = next(u for u in base["url"] if "/page/" in u)
    delete_urls(spark, out, [victim])
    df = wh.read_table(spark, out, "extracted")
    assert df.filter(df.url == victim).count() == 0
    assert df.count() == len(base) - 1
    # and a resumed/merged extraction without the argument works too
    run_extraction(spark, p, out, snapshot_id="v2", salt_partitions=2,
                   mode="merge")
    assert wh.read_table(spark, out, "extracted").count() == len(base)


def test_rebucket_shrink_retires_stale_dirs(spark, tmp_path):
    base = generate_pages(20, seed=103)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=8, salt_partitions=2)
    golden = _content(spark, out, "extracted")
    res = rebucket_warehouse(spark, out, 3)
    assert res["rebucketed"]
    for t in ("chunks", "extracted"):
        assert max(_bucket_ids(out, t)) < 3
    assert _content(spark, out, "extracted") == golden


def test_wrong_modulus_rejected(spark, tmp_path):
    base = generate_pages(8, seed=104)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    with pytest.raises(wh.BucketSpecMismatch):
        run_extraction(spark, p, out, snapshot_id="v2", num_buckets=8,
                       salt_partitions=2)
    with pytest.raises(wh.BucketSpecMismatch):
        delete_urls(spark, out, [base["url"].iloc[0]], num_buckets=16)
    # same value passes (validated, not blindly trusted)
    run_extraction(spark, p, out, snapshot_id="v3", num_buckets=4,
                   salt_partitions=2)


def test_retained_shrink_time_travels_through_retired_buckets(spark,
                                                              tmp_path):
    """Shrinking the modulus RETIRES beyond-range dirs; with retention on
    they park as logged history, so an as-of read before the rebucket
    still reassembles the full old-modulus table."""
    base = generate_pages(14, seed=106)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=8, salt_partitions=2,
                   retain_snapshots=True)
    pre = _content(spark, out, "extracted")
    time.sleep(0.05)
    ts_mid = wh.now()
    time.sleep(0.05)
    rebucket_warehouse(spark, out, 3)
    assert max(_bucket_ids(out, "extracted")) < 3
    assert _content(spark, out, "extracted") == pre
    asof = snap.read_table_as_of(spark, out, "extracted", ts_mid)
    cols = sorted(c for c in asof.columns if c != "bucket")
    got = sorted(tuple(str(v) for v in r)
                 for r in asof.select(cols).collect())
    assert got == pre


def test_rebucket_is_time_travelable(spark, tmp_path):
    base = generate_pages(12, seed=105)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2,
                   retain_snapshots=True)
    pre = _content(spark, out, "extracted")
    time.sleep(0.05)
    ts_mid = wh.now()
    time.sleep(0.05)
    rebucket_warehouse(spark, out, 8)
    # current content unchanged, old layout readable through time travel
    assert _content(spark, out, "extracted") == pre
    asof = snap.read_table_as_of(spark, out, "extracted", ts_mid)
    cols = sorted(c for c in asof.columns if c != "bucket")
    got = sorted(tuple(str(v) for v in r)
                 for r in asof.select(cols).collect())
    assert got == pre


def test_rebucket_runs_at_most_three_jobs_per_table(spark, spark_jobs,
                                                    tmp_path):
    """Each table is one staged write through ``warehouse.stage_buckets``,
    routed by bucket id: no range-partitioning sampling job and no second
    pass to count rows (footers give the count)."""
    base = generate_pages(20, seed=107)
    p = str(tmp_path / "p.parquet")
    _write(base, p)
    out = str(tmp_path / "wh")
    run_extraction(spark, p, out, num_buckets=4, salt_partitions=2)
    res, descs = spark_jobs(lambda: rebucket_warehouse(spark, out, 8))
    assert set(res["tables"]) == {"chunks", "extracted"}
    assert len(descs) <= 6, descs
