"""Murmur3-preimage bucket routing (functions/partitioning.py).

The routing is an optimization contract, not a correctness one (the staged
write re-groups by the bucket COLUMN either way), but a silent drift between
the Python murmur3 and Spark's HashPartitioning would quietly reintroduce
the straggler packing the router exists to remove — so parity is pinned."""

import pytest
from pyspark.sql import functions as F

from docling_rag_spark.functions.partitioning import (
    bucket_route,
    murmur3_int32,
    partition_preimages,
)


def test_murmur3_matches_spark_hash(spark):
    """Python murmur3_int32 == F.hash(int32) (seed 42), incl. negatives."""
    xs = [0, 1, 2, 41, 42, 255, 256, 1 << 20, -1, -123456,
          2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    got = {r["x"]: r["h"]
           for r in df.select("x", F.hash("x").alias("h")).collect()}
    for x in xs:
        assert got[x] == murmur3_int32(x), f"mismatch at {x}"


@pytest.mark.parametrize("n", [1, 7, 32, 256])
def test_preimages_cover_all_partitions(n):
    pre = partition_preimages(n)
    assert len(pre) == n
    assert sorted(murmur3_int32(x) % n for x in pre) == list(range(n))


def test_bucket_route_one_bucket_per_partition(spark):
    """repartition(n, bucket_route(...)) -> every partition holds exactly
    one bucket, every bucket its own partition (the property that makes
    the staged partitionBy write emit one file per bucket)."""
    num_buckets = 32
    batch = list(range(num_buckets))
    df = (spark.range(4000)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("id"), F.lit(num_buckets))
                      .cast("int")))
    routed = df.repartition(len(batch),
                            bucket_route(F.col("bucket"), batch, num_buckets))
    per_part = (routed
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.countDistinct("bucket").alias("nb"))
                .collect())
    assert len(per_part) == num_buckets          # no empty/missing slots
    assert all(r["nb"] == 1 for r in per_part)   # no stacking


def test_bucket_route_subset_batch(spark):
    """A resume-style batch (subset of buckets) still gets one bucket per
    partition across len(batch) partitions."""
    num_buckets = 64
    batch = [3, 17, 21, 40, 63]
    df = (spark.range(2000)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("id"), F.lit(num_buckets))
                      .cast("int"))
          .filter(F.col("bucket").isin(batch)))
    routed = df.repartition(len(batch),
                            bucket_route(F.col("bucket"), batch, num_buckets))
    per_part = (routed
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.countDistinct("bucket").alias("nb"))
                .collect())
    assert len(per_part) == len(batch)
    assert all(r["nb"] == 1 for r in per_part)


def test_route_repartition_one_bucket_per_partition(spark):
    """The shared rewrite helper (delete/registry/fold sites) must place
    each active bucket alone in its own shuffle partition — same property
    as raw bucket_route, via the list-only signature those sites have."""
    from docling_rag_spark.functions.partitioning import route_repartition

    buckets = [1, 5, 9, 12]
    df = (spark.range(1000)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("id"), F.lit(16)).cast("int"))
          .filter(F.col("bucket").isin(buckets)))
    per_part = (route_repartition(df, buckets)
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.countDistinct("bucket").alias("nb"))
                .collect())
    assert len(per_part) == len(buckets)
    assert all(r["nb"] == 1 for r in per_part)


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
def test_bucket_route_round_robin_over_fewer_partitions(spark, num_buckets,
                                                        batch):
    """repartition(P, bucket_route(..., partitions=P)) spreads whole
    buckets over P partitions, at most ceil(n/P) on any of them."""
    partitions = 4
    df = (spark.range(4000)
          .withColumn("bucket",
                      F.pmod(F.xxhash64("id"), F.lit(num_buckets))
                      .cast("int"))
          .filter(F.col("bucket").isin(batch)))
    routed = df.repartition(
        partitions, bucket_route(F.col("bucket"), batch, num_buckets,
                                 partitions=partitions))
    assert routed.rdd.getNumPartitions() == partitions
    where = _bucket_partitions(routed)
    assert set(where) == set(batch)
    assert all(len(p) == 1 for p in where.values()), where
    per_part: dict[int, int] = {}
    for (pid,) in where.values():
        per_part[pid] = per_part.get(pid, 0) + 1
    assert len(per_part) == partitions           # none empty
    assert max(per_part.values()) - min(per_part.values()) <= 1


def test_extraction_parse_stage_runs_salt_partitions_tasks(
        spark, tmp_path, monkeypatch):
    """run_extraction feeds the parse UDF exactly salt_partitions
    partitions (one Python task per partition, not one per bucket),
    each bucket whole in one of them — so chunks/ and extracted/ still
    hold one file per bucket. The parse write runs under the
    extract:parse job description, and the caller's is restored."""
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
    real = job.extract_documents

    def recording(df, *args, **kwargs):
        seen.append(df)
        tags.append(sc.getLocalProperty("spark.job.description"))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(job, "extract_documents", recording)
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
