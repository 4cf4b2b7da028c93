"""Host-skew mitigation: url-hash bucketing balances a pathological host
distribution (the north rule's explicit requirement; absent in the
reference, SURVEY.md §4 "Skew handling")."""

from __future__ import annotations

import pandas as pd

from docling_rag_spark.plans.job import bucket_of
from pyspark.sql import functions as F


def test_bucket_balances_hot_host(spark):
    # 90% of urls on one host — the crawl pattern that stalls a
    # host-partitioned layout
    urls = ([f"https://hot.example/p/{i}" for i in range(900)]
            + [f"https://host{i % 37}.example/p/{i}" for i in range(100)])
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    n_buckets = 16
    sizes = (df.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
             .groupBy("bucket").count().collect())
    counts = {r["bucket"]: r["count"] for r in sizes}
    assert len(counts) == n_buckets          # every bucket gets work
    mean = 1000 / n_buckets
    assert max(counts.values()) < 2 * mean   # no bucket owns the hot host
    assert min(counts.values()) > 0.4 * mean


def test_partitions_align_with_buckets(spark):
    """The job's bucket-aligned repartition (``warehouse.route_buckets``)
    puts every bucket whole in its own partition (one file per bucket at
    write time), even on a host-skewed url set."""
    from docling_rag_spark.io import warehouse as wh

    urls = [f"https://h{i % 11}.example/{i}" for i in range(500)]
    df = wh.route_buckets(
        spark.createDataFrame(pd.DataFrame({"url": urls}))
        .withColumn("bucket", bucket_of(F.col("url"), 16)),
        list(range(16)), 16)
    per_part = df.rdd.mapPartitions(
        lambda rows: [sorted({r["bucket"] for r in rows})]).collect()
    assert sorted(b for part in per_part for b in part) == list(range(16))
    assert all(len(part) == 1 for part in per_part)


def test_aqe_skew_join_engages(spark):
    """The session ships with AQE skew-join on (session.py); prove it
    actually splits a pathologically skewed join partition at runtime.
    Thresholds are lowered for test scale; assert restores them."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        conf.set("spark.sql.adaptive.skewJoin."
                 "skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # force a shuffle join (a broadcast join has no skew to split)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # 95% of fact rows share one host key; dim is small but not broadcast
        fact = (spark.range(200_000)
                .withColumn("host", F.when(F.col("id") % 100 < 95,
                                           F.lit("hot.example"))
                            .otherwise(F.concat(F.lit("h"),
                                                (F.col("id") % 37)
                                                .cast("string"))))
                .withColumn("payload", F.repeat(F.lit("x"), 64)))
        dim = spark.createDataFrame(
            [("hot.example", 1)] + [(f"h{i}", 0) for i in range(37)],
            "host string, hot int")
        joined = fact.join(dim, "host").groupBy("hot").count()
        rows = {r["hot"]: r["count"] for r in joined.collect()}
        assert rows[1] == 190_000 and rows[0] == 10_000  # join is correct
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)
