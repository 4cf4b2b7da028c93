"""Continuous embedding + incremental ANN-index maintenance.

Completes the persistent-index story (plans/ann_index.py) for streaming
ingest: the reference's pgvector HNSW (reference storage/db_schema.py:36-37)
is updated row-by-row on every insert; the Spark-native analog is an
append-only sequence of per-micro-batch DELTA partitions over the same
(bucket) layout the batch index uses:

    <out>/embeddings/batch=<id>/...                 embedding rows
    <out>/ann_delta/batch=<id>/bucket=<b>/...       LSH-bucketed delta

Exactly-once: each micro-batch writes its OWN ``batch=<id>`` directory
with mode=overwrite, so a retried batch replaces its partial output
instead of duplicating it (same shape as stream_ingest_dedup). A probe
query filters on ``bucket`` — partition discovery spans every batch dir,
and partition pruning reads only the probe buckets of each delta (the
scan cost grows with delta COUNT, not corpus size, until compaction).

``compact_ann_index`` folds all deltas into the single-level layout the
batch queries use (an Iceberg rewrite-data-files action in miniature),
taken under the warehouse commit lock.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.config import CHUNK_MAX_TOKENS
from docling_rag_spark.io.warehouse import (batch_dirs, commit_lock,
                                            recover_swap, swap_dir)
from docling_rag_spark.operators.pipeline import chunks_table
from docling_rag_spark.streaming.ingest import (extracted_docs_stream,
                                                start_stream)


def _delta_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "ann_delta")


def stream_embed_index(spark: SparkSession,
                       pages_dir: str,
                       out_dir: str,
                       checkpoint_dir: str,
                       max_tokens: int = CHUNK_MAX_TOKENS,
                       available_now: bool = True):
    """Stream pages -> extract -> embed -> append embeddings + bucketed
    ANN delta per micro-batch. Returns the StreamingQuery."""
    from docling_rag_spark.operators.embed import embed_chunks
    from docling_rag_spark.plans.ann_index import plane_matrix
    from docling_rag_spark.queries.vectors import _bucket

    emb_dir = os.path.join(out_dir, "embeddings")

    def process_batch(docs, batch_id: int) -> None:
        from docling_rag_spark.plans.ann_index import interpreted_eval

        chunks = chunks_table(docs.filter(F.col("status") != "error"))
        emb = embed_chunks(chunks).persist()
        try:
            (emb.write.mode("overwrite")
             .parquet(os.path.join(emb_dir, f"batch={batch_id}")))
            first = emb.select(F.size("embedding").alias("d")).first()
            if first is None:
                return  # empty batch: embeddings dir written, no delta
            dim = int(first["d"])
            # same compile-vs-interpret trade the index build makes: the
            # dim-wide literal plane matrix would stall every first micro-
            # batch for tens of seconds of codegen compilation
            with interpreted_eval(docs.sparkSession):
                (emb.withColumn(
                    "bucket", _bucket(F.col("embedding"), plane_matrix(dim)))
                 .write.partitionBy("bucket").mode("overwrite")
                 .parquet(os.path.join(_delta_dir(out_dir),
                                       f"batch={batch_id}")))
        finally:
            emb.unpersist()

    docs = extracted_docs_stream(spark, pages_dir, max_tokens)
    writer = docs.writeStream.foreachBatch(process_batch)
    return start_stream(writer, checkpoint_dir, available_now)


def ann_probe_candidates(spark: SparkSession, out_dir: str,
                         buckets: list[int]):
    """Partition-pruned candidate set across base index + all deltas.
    Full-row dedup across the union: a replayed micro-batch (delta landed,
    checkpoint didn't) can exist both folded into base and as a rewritten
    delta dir."""
    parts = []
    base = os.path.join(out_dir, "ann", "lsh")
    # recovery must not race a live compactor's two-rename swap (both
    # sides renaming .old/final concurrently breaks the protocol); take
    # the compaction lock briefly — if a compactor holds it, it runs its
    # own recovery and the reader proceeds against whatever is visible
    try:
        with commit_lock(os.path.join(out_dir, "_compaction"),
                         timeout=2.0, stale_sec=3600.0):
            recover_swap(base)
    except TimeoutError:
        pass
    if os.path.isdir(base):
        parts.append(spark.read.parquet(base))
    delta = _delta_dir(out_dir)
    if batch_dirs(delta):
        parts.append(spark.read.option("basePath", delta).parquet(delta)
                     .drop("batch"))
    if not parts:
        raise FileNotFoundError(f"no ANN index under {out_dir}")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if len(parts) > 1:
        df = df.dropDuplicates()
    return df.filter(F.col("bucket").isin([int(b) for b in buckets]))


def compact_ann_index(spark: SparkSession, out_dir: str,
                      include_newest: bool = False) -> dict:
    """Fold delta batches into the flat base layout (Iceberg
    rewrite-data-files in miniature; run under the warehouse commit lock
    so it cannot interleave with another compactor). The newest delta is
    left in place by default — it is the only batch a crashed stream can
    replay; pass ``include_newest=True`` only when the stream is known
    stopped (a drained availableNow run)."""
    delta = _delta_dir(out_dir)
    base = os.path.join(out_dir, "ann", "lsh")
    if not os.path.isdir(delta):
        return {"compacted_batches": 0}
    # compactor-vs-compactor: a second compactor merging the PRE-swap base
    # would overwrite the first one's folded deltas; a dedicated long-lease
    # lock (separate from the short-hold commit lock) serializes whole
    # compactions
    with commit_lock(os.path.join(out_dir, "_compaction"),
                     timeout=10.0, stale_sec=3600.0):
        return _compact_locked(spark, out_dir, delta, base, include_newest)


def _compact_locked(spark: SparkSession, out_dir: str, delta: str,
                    base: str, include_newest: bool) -> dict:
    # Snapshot the batch list FIRST and compact only those dirs: the stream
    # keeps writing new batch=<id> dirs while the merge runs, and deleting
    # the whole delta tree afterwards would destroy batches the merge never
    # read (their checkpoint entries make them unreplayable — silent loss).
    recover_swap(base)  # a crashed prior swap must not lose the old base
    # the newest batch is left out unless include_newest: it may be
    # replayed mid-merge (warehouse.batch_dirs)
    batches = batch_dirs(delta, include_newest)
    if not batches:
        return {"compacted_batches": 0}
    snap_dirs = [os.path.join(delta, d) for d in batches]
    merged = (spark.read.option("basePath", delta).parquet(*snap_dirs)
              .drop("batch"))
    if os.path.isdir(base):
        merged = merged.unionByName(spark.read.parquet(base))
    # full-row dedup: a micro-batch whose delta landed but whose checkpoint
    # offset did not commit gets REPLAYED by the restarted stream after its
    # dir was folded here — the replayed rows are byte-identical, so the
    # merge collapses them instead of double-counting
    merged = merged.dropDuplicates()
    tmp = base + f".compact-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    swap_dir(tmp, base)
    for d in snap_dirs:  # ONLY the snapshotted batches
        shutil.rmtree(d, ignore_errors=True)
    return {"compacted_batches": len(batches)}
