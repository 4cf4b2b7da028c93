"""Incremental ingest via Structured Streaming (the queue-replacement tier).

The reference ingests asynchronously through a postgres jobs queue + worker
poll loop (worker/runner.py:97-119). The batch job replaces that with
snapshot-scoped runs + lineage resume (plans/job.py); this module is the
*continuous* variant: a file-source stream over the pages directory runs
the SAME fused parse+chunk stage per micro-batch and appends to the chunks
table with exactly-once bookkeeping from the stream checkpoint (the file
source tracks processed files — the streaming analog of the lineage
anti-join, J3).

``trigger(availableNow=True)`` drains everything currently in the directory
and stops — an incremental batch run; leaving the default trigger tails the
directory forever. No watermarks/stateful ops are needed: extraction is
row-local (the reference has no streaming semantics to preserve,
SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from docling_rag_spark.config import CHUNK_MAX_TOKENS
from docling_rag_spark.operators.pipeline import chunks_table, extract_documents

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# one tuning point for every pages stream (the three sibling streams used
# to carry private copies that could silently diverge)
MAX_FILES_PER_TRIGGER = 8


def extracted_docs_stream(spark: SparkSession, pages_dir: str,
                          max_tokens: int = CHUNK_MAX_TOKENS):
    """Shared front half of every ingest stream: file-source over the
    pages dir -> fused parse+chunk. salt_partitions=None: a micro-batch
    is already file-granular; the stateless shuffle would only add
    latency here."""
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
             .parquet(pages_dir))
    return extract_documents(pages, max_tokens=max_tokens,
                             salt_partitions=None)


def start_stream(writer, checkpoint_dir: str, available_now: bool):
    """Shared back half: checkpointed append writer, optionally drained
    with a one-shot availableNow trigger."""
    writer = (writer.option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_chunks(spark: SparkSession,
                          pages_dir: str,
                          out_dir: str,
                          checkpoint_dir: str,
                          max_tokens: int = CHUNK_MAX_TOKENS,
                          available_now: bool = True):
    """Start the incremental extraction stream; returns the StreamingQuery.

    Callers wanting a one-shot incremental run do
    ``q = stream_extract_chunks(...); q.awaitTermination()`` — each new
    parquet file dropped into ``pages_dir`` since the last run is parsed
    exactly once.
    """
    docs = extracted_docs_stream(spark, pages_dir, max_tokens)
    chunks = chunks_table(docs)
    writer = (chunks.writeStream
              .format("parquet")
              .option("path", out_dir))
    return start_stream(writer, checkpoint_dir, available_now)


def stream_ingest_dedup(spark: SparkSession,
                        pages_dir: str,
                        out_dir: str,
                        checkpoint_dir: str,
                        max_tokens: int = CHUNK_MAX_TOKENS,
                        available_now: bool = True):
    """Incremental ingest that DEDUPS against the warehouse (the streaming
    bridge to ``dedup_exact``): each micro-batch computes the canonical
    content hash over its extracted text, keeps one doc per hash within
    the batch (lowest url wins, deterministic), anti-joins against the
    accumulated ``dedup_index`` table, and appends only fresh content.

    Exactly-once shape: outputs land in per-batch directories
    (``batch=<id>``) written with mode=overwrite, so a retried micro-batch
    overwrites its own partial output instead of duplicating it — and the
    current batch's own directory is EXCLUDED from the seen-hash read, so
    a retry does not anti-join its rows away against its failed attempt.
    On Iceberg this whole body is one ``MERGE INTO chunks ... WHEN NOT
    MATCHED BY content_hash`` per micro-batch. A long-running stream
    accumulates one small index dir per micro-batch — fold them
    periodically with ``compact_dedup_index`` or the seen-hash read cost
    grows O(batches) per batch.
    """
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from docling_rag_spark.io.warehouse import batch_dirs
    from docling_rag_spark.queries.dedup import content_hash_col

    chunks_dir = os.path.join(out_dir, "chunks")
    index_dir = os.path.join(out_dir, "dedup_index")

    def process_batch(docs, batch_id: int) -> None:
        hashed = (docs.filter(F.col("status") != "error")
                  .withColumn("content_hash",
                              content_hash_col(F.col("extracted_text"))))
        w = Window.partitionBy("content_hash").orderBy("url")
        keep = (hashed.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))
        seen_parts = []
        prior = [os.path.join(index_dir, d) for d in batch_dirs(index_dir)
                 if d != f"batch={batch_id}"]
        if prior:
            seen_parts.append(
                docs.sparkSession.read
                .option("basePath", index_dir).parquet(*prior)
                .select("content_hash"))
        compacted = os.path.join(index_dir, "base")
        if os.path.isdir(compacted):
            seen_parts.append(docs.sparkSession.read.parquet(compacted)
                              .select("content_hash"))
        for seen in seen_parts:
            keep = keep.join(seen, "content_hash", "left_anti")
        keep = keep.persist()
        try:
            (chunks_table(keep).write.mode("overwrite")
             .parquet(os.path.join(chunks_dir, f"batch={batch_id}")))
            (keep.select("content_hash", "url").write.mode("overwrite")
             .parquet(os.path.join(index_dir, f"batch={batch_id}")))
        finally:
            keep.unpersist()

    docs = extracted_docs_stream(spark, pages_dir, max_tokens)
    writer = docs.writeStream.foreachBatch(process_batch)
    return start_stream(writer, checkpoint_dir, available_now)


def compact_dedup_index(spark: SparkSession, out_dir: str,
                        include_newest: bool = False) -> dict:
    """Fold accumulated per-micro-batch dedup-index dirs into a single
    ``base`` dir (mirror of ``compact_ann_index``): bounds the seen-hash
    read at O(1) dirs instead of O(micro-batches). The newest batch dir is
    excluded — a crashed stream replays only its last uncommitted batch,
    and folding it mid-replay races the overwrite (see compact_ann_index).
    Run under the same long-lease compaction lock."""
    import os
    import shutil

    from docling_rag_spark.io.warehouse import (batch_dirs, commit_lock,
                                                recover_swap, swap_dir)

    index_dir = os.path.join(out_dir, "dedup_index")
    base = os.path.join(index_dir, "base")
    if not os.path.isdir(index_dir):
        return {"compacted_batches": 0}
    with commit_lock(os.path.join(out_dir, "_compaction"),
                     timeout=10.0, stale_sec=3600.0):
        recover_swap(base)
        batches = batch_dirs(index_dir, include_newest)
        if not batches:
            return {"compacted_batches": 0}
        snap_dirs = [os.path.join(index_dir, d) for d in batches]
        merged = (spark.read.option("basePath", index_dir)
                  .parquet(*snap_dirs).drop("batch"))
        if os.path.isdir(base):
            merged = merged.unionByName(spark.read.parquet(base))
        merged = merged.dropDuplicates()
        tmp = base + f".compact-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.coalesce(max(1, spark.sparkContext.defaultParallelism // 4)) \
              .write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, base)
        for d in snap_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {"compacted_batches": len(batches)}
