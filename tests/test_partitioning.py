"""Bucket -> shuffle-partition routing (``warehouse.route_buckets``).

The routing is an optimization contract, not a correctness one (the staged
write re-groups by the bucket COLUMN either way): whole buckets per task
give one file per bucket and no straggler stacking several buckets."""

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.io import warehouse as wh


def _bucketed(spark, rows: int, num_buckets: int, batch=None):
    df = (spark.range(rows)
          .withColumn("url", F.col("id").cast("string"))
          .withColumn("bucket",
                      F.pmod(F.xxhash64("url"), F.lit(num_buckets))
                      .cast("int")))
    return df if batch is None else df.filter(F.col("bucket").isin(batch))


def _buckets_per_partition(df) -> list:
    return (df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.countDistinct("bucket").alias("nb"))
            .collect())


def test_route_buckets_one_bucket_per_partition(spark):
    """route_buckets(df, batch, len(batch)) -> every partition holds
    exactly one bucket, every bucket its own partition (the property that
    makes the staged partitionBy write emit one file per bucket)."""
    batch = list(range(32))
    per_part = _buckets_per_partition(
        wh.route_buckets(_bucketed(spark, 4000, 32), batch, len(batch)))
    assert len(per_part) == 32                   # no empty/missing slots
    assert all(r["nb"] == 1 for r in per_part)   # no stacking


def test_route_buckets_subset_batch(spark):
    """A resume-style batch (subset of buckets) still gets one bucket per
    partition across len(batch) partitions."""
    batch = [3, 17, 21, 40, 63]
    per_part = _buckets_per_partition(wh.route_buckets(
        _bucketed(spark, 2000, 64, batch), batch, len(batch)))
    assert len(per_part) == len(batch)
    assert all(r["nb"] == 1 for r in per_part)


def test_stage_buckets_routes_one_bucket_per_partition(spark, tmp_path):
    """The shared rewrite staging (delete/registry/fold/rebucket) takes
    only the bucket list and places each bucket alone in its own shuffle
    partition: one file per bucket dir, each written by a different task
    (the ``part-<partition>`` prefix of its name)."""
    import glob
    import os

    buckets = [1, 5, 9, 12]
    df = _bucketed(spark, 1000, 16, buckets)
    staged = str(tmp_path / "staged")
    manifest = wh.stage_buckets(df, staged, "extracted", buckets)
    assert sum(r["rows"] for r in manifest) == df.count()
    tasks = set()
    for b in buckets:
        (f,) = glob.glob(os.path.join(wh.bucket_dir(staged, b), "*.parquet"))
        tasks.add(os.path.basename(f).split("-")[1])
    assert len(tasks) == len(buckets)


def _bucket_partitions(df) -> dict[int, set[int]]:
    """bucket -> the set of spark_partition_ids holding its rows."""
    rows = (df.withColumn("pid", F.spark_partition_id())
            .select("bucket", "pid").distinct().collect())
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["bucket"], set()).add(r["pid"])
    return out


@pytest.mark.parametrize("num_buckets,batch", [
    (16, list(range(16))),
    (8, list(range(8))),
    (7, list(range(7))),                 # uneven: 2/2/2/1
    (64, [3, 17, 21, 40, 44, 58, 63]),   # resume-style subset batch
])
def test_route_buckets_round_robin_over_fewer_partitions(spark, num_buckets,
                                                         batch):
    """route_buckets(df, batch, P) spreads whole buckets over P
    partitions, at most ceil(n/P) on any of them."""
    partitions = 4
    routed = wh.route_buckets(_bucketed(spark, 4000, num_buckets, batch),
                              batch, partitions)
    assert routed.rdd.getNumPartitions() == partitions
    where = _bucket_partitions(routed)
    assert set(where) == set(batch)
    assert all(len(p) == 1 for p in where.values()), where
    per_part: dict[int, int] = {}
    for (pid,) in where.values():
        per_part[pid] = per_part.get(pid, 0) + 1
    assert len(per_part) == partitions           # none empty
    assert max(per_part.values()) - min(per_part.values()) <= 1


def test_route_buckets_salts_fewer_buckets_than_partitions(spark):
    """Fewer buckets than tasks: the salted key splits buckets across all
    P partitions instead of leaving P - len(batch) of them idle."""
    batch, partitions = [2, 5], 4
    routed = wh.route_buckets(_bucketed(spark, 4000, 8, batch), batch,
                              partitions)
    assert routed.rdd.getNumPartitions() == partitions
    where = _bucket_partitions(routed)
    assert set(where) == set(batch)
    assert set().union(*where.values()) == set(range(partitions))


def test_extraction_parse_stage_runs_salt_partitions_tasks(
        spark, tmp_path, monkeypatch):
    """run_extraction feeds the parse-and-stage UDF exactly
    salt_partitions partitions (one Python task per partition, not one
    per bucket), each bucket whole in one of them — so chunks/ and
    extracted/ still hold one file per bucket. The parse stage runs under
    the extract:parse job description, and the caller's is restored."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_rag_spark.plans import job
    from docling_rag_spark.sources.pages import (
        PAGES_ARROW_SCHEMA,
        generate_pages,
    )

    pages = str(tmp_path / "p.parquet")
    pq.write_table(pa.Table.from_pandas(
        generate_pages(160, seed=5), schema=PAGES_ARROW_SCHEMA,
        preserve_index=False), pages)
    sc = spark.sparkContext
    seen, tags = [], []
    real = job.stage_documents

    def recording(df, *args, **kwargs):
        seen.append(df)
        tags.append(sc.getLocalProperty("spark.job.description"))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(job, "stage_documents", recording)
    out = str(tmp_path / "wh")
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        job.run_extraction(spark, pages, out, num_buckets=8,
                           salt_partitions=4)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert tags == ["extract:parse"]

    (fed,) = seen
    assert fed.rdd.getNumPartitions() == 4
    where = _bucket_partitions(fed)
    assert len(where) == 8
    assert all(len(p) == 1 for p in where.values()), where
    for table in ("chunks", "extracted"):
        dirs = glob.glob(os.path.join(out, table, "bucket=*"))
        assert len(dirs) == 8
        for d in dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
