"""Fold streaming micro-batch output into the canonical bucketed tables.

``stream_ingest_dedup`` lands chunks in per-micro-batch directories
(``chunks/batch=<id>``) for exactly-once overwrite-on-retry semantics; a
long-running stream therefore accumulates one dir per micro-batch next to
the batch job's url-hash-bucketed layout. This module is the maintenance
job that merges those deltas into the bucketed base — the Iceberg
``rewrite_data_files`` + ``MERGE INTO`` pair the reference's postgres
upsert performs implicitly on every insert (storage/db_storage.py:60-87).

After a fold the warehouse has ONE canonical layout again: batch queries,
serving, and delete cascades all read bucket dirs; listing cost stops
growing O(micro-batches).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.config import DEFAULT_NUM_BUCKETS
from docling_rag_spark.io import snapshots
from docling_rag_spark.io import warehouse as wh


def fold_stream_chunks(spark: SparkSession, out_dir: str,
                       num_buckets: int | None = None,
                       include_newest: bool = False) -> dict:
    """Merge streaming ``chunks/batch=<id>`` dirs into the bucketed table.

    Per url, the LATEST micro-batch wins (a re-ingested url replaces its
    earlier chunks), and folded urls replace their rows in the bucketed
    base — the same copy-on-write MERGE shape as
    ``run_extraction(mode="merge")``. Only the url-hash buckets that
    receive folded rows are rewritten.

    The newest batch dir is excluded unless ``include_newest``: a crashed
    stream replays exactly its last uncommitted micro-batch, and folding
    that dir while the replay overwrites it races (same rule as
    ``compact_dedup_index``). Runs under the compaction lock; the bucket
    commit is the shared ``snapshots.commit_rewrite`` (lineage-validated,
    spec- and schema-pinning, lineage-appending), so concurrent
    extraction jobs see the fold exactly like any newer snapshot commit.

    ``num_buckets`` is the table's partition spec, not a tuning knob of
    this job: omitted it resolves from the pinned warehouse spec, explicit
    it is validated against it (``BucketSpecMismatch``).
    """
    from docling_rag_spark.plans.job import bucket_of

    num_buckets = wh.resolve_num_buckets(out_dir, num_buckets,
                                         DEFAULT_NUM_BUCKETS)
    chunks_dir = os.path.join(out_dir, "chunks")
    if not os.path.isdir(chunks_dir):
        return {"folded_batches": 0, "rows_folded": 0}

    with wh.commit_lock(os.path.join(out_dir, "_compaction"),
                        timeout=10.0, stale_sec=3600.0):
        batches = wh.batch_dirs(chunks_dir, include_newest)
        if not batches:
            return {"folded_batches": 0, "rows_folded": 0}
        snap_dirs = [os.path.join(chunks_dir, d) for d in batches]

        streamed = (spark.read.option("basePath", chunks_dir)
                    .parquet(*snap_dirs))
        latest = streamed.groupBy("url").agg(F.max("batch").alias("batch"))
        streamed = (streamed.join(latest, ["url", "batch"]).drop("batch")
                    .withColumn("bucket",
                                bucket_of(F.col("url"), num_buckets)))

        buckets = sorted(r["bucket"] for r in
                         streamed.select("bucket").distinct().collect())
        if not buckets:  # batch dirs held zero rows
            for d in snap_dirs:
                shutil.rmtree(d, ignore_errors=True)
            return {"folded_batches": len(batches), "rows_folded": 0}

        old = wh.read_buckets(spark, out_dir, "chunks", buckets)
        # allowMissingColumns: the stream and the bucketed base can be one
        # code-version apart; rows missing an added column read as null
        # (the pinned-schema add-column contract) instead of failing
        merged = streamed if old is None else (
            old.join(streamed.select("url").distinct(), "url", "left_anti")
            .unionByName(streamed, allowMissingColumns=True))

        n_folded = streamed.count()
        snap_id = f"fold-{uuid.uuid4().hex[:12]}"
        staging = os.path.join(out_dir, "_staging", snap_id)
        read_ts = wh.now()
        try:
            wh.stage_buckets(merged, staging, "chunks", buckets)
            snapshots.commit_rewrite(
                out_dir, {"chunks": (staging, merged.schema)}, buckets,
                num_buckets, snap_id,
                conflicts=lambda: wh.conflicting_buckets(
                    out_dir, snap_id, buckets, read_ts),
                lineage={}, started_at=read_ts)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

        # batch dirs are deleted only AFTER the bucketed commit landed: a
        # crash between commit and this cleanup re-folds the same rows on
        # the next run, which the url-level MERGE makes idempotent
        for d in snap_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {"folded_batches": len(batches), "rows_folded": n_folded,
                "buckets_rewritten": buckets}
