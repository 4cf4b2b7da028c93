"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a 1000-executor cluster: all knobs that
matter at 100 TB (AQE, shuffle partition sizing, Arrow batch caps for large
html blobs) are set here so the same job code runs unchanged under
``spark-submit --py-files`` on a real cluster.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Portable default: half of physical RAM, clamped to [2g, 48g].

    Local mode runs everything in the driver JVM, so it wants real memory on
    big boxes — but a hard-coded bench-box value (48g) fails JVM startup on
    smaller machines. Bench scripts that know their hardware should set
    SPARK_DRIVER_MEMORY explicitly."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, total_gb // 2))}g"
    except OSError:
        pass
    return "4g"


@contextlib.contextmanager
def job_description(spark: SparkSession, text: str):
    """Tag the Spark jobs this thread runs inside the block, so an event
    log maps stages to the step that ran them. Local properties are per
    thread: a pool worker must enter its own block (it does not inherit
    the submitting thread's description). The previous description is
    restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def get_spark(app_name: str = "docling-rag-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs can be MBs: bound Arrow batch memory, not row count alone
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # split parquet scans finer than the 128m default: html-blob tables
        # are small on disk but expensive per row (parse CPU), so scan tasks
        # must outnumber cores even at bench scale
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # pack small per-bucket files into meaty scan tasks: the default
        # 4 MB open-cost makes every ~200 KB staged bucket file its own
        # task (256 tasks/scan), and driver task-launch latency then eats
        # the N-vs-4N scaling headroom (measured 0.55 efficiency on the
        # derivation phase at 1-vs-4 executors)
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # list bucketed-table dirs on the driver's thread pool instead of
        # launching a "listing leaf files" Spark JOB: the job variant costs
        # a fixed 0.8-2.3 s per staged read-back of a 256-bucket table
        # (event-log measured) — pure Amdahl tail at high parallelism. At
        # real warehouse scale (>1024 partition dirs on object storage)
        # listing still goes distributed.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
        # task-side output renames (v2): the v1 committer renames every
        # task file on the DRIVER at job end — serial time proportional
        # to file count (256-bucket writes x3 tables), invisible at 2
        # cores and dominant at 8. Safe here: every multi-file write in
        # this engine lands in a staging dir that the warehouse's own
        # lock-held atomic bucket-rename commit (io/warehouse.py) makes
        # all-or-nothing, so v2's partial-output-on-failure window never
        # reaches a committed table.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # Master resolution: an explicit SPARK_GRAFT_MASTER wins (used by
    # scripts/bench_cluster.py); under spark-submit the launcher has
    # already fixed the master in the gateway JVM's conf (detectable via
    # PYSPARK_GATEWAY_PORT), so setting one here would silently override
    # the submitted cluster with local mode; otherwise local[cores].
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
