"""Continuous embedding + incremental ANN-index maintenance.

Completes the persistent-index story (plans/ann_index.py) for streaming
ingest: the reference's pgvector HNSW (reference storage/db_schema.py:36-37)
is updated row-by-row on every insert; the Spark-native analog is an
append-only sequence of per-micro-batch DELTA partitions in the index's
own (cell) layout:

    <out>/embeddings/batch=<id>/...                 embedding rows
    <out>/ann_delta/batch=<id>/cell=<c>/...         IVF-PQ delta rows

The deltas are encoded with the index's books (<out>/ann/pq_books.json).
While the warehouse has no index, a micro-batch writes no delta; the first
one after which ``embeddings/`` holds ``MIN_TRAIN`` rows builds the index
over all of them instead (books trained on their md5 sample, rows in
``<out>/ann/pq``), so no small first batch decides the books, and searches
in mode=auto run exact until then. Exactly-once: each micro-batch writes
its OWN ``batch=<id>`` directory with mode=overwrite, so a retried batch
replaces its partial output instead of duplicating it (same shape as
stream_ingest_dedup). A search (``plans.ann_index.probe``) reads only the
probe cells of the base table and of every delta, partition-pruned (its
cost grows with delta COUNT, not corpus size, until compaction).

``compact_ann_index`` folds all deltas into ``<out>/ann/pq`` by cell (an
Iceberg rewrite-data-files action in miniature), taken under the
warehouse's compaction lock.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.config import CHUNK_MAX_TOKENS
from docling_rag_spark.io.warehouse import batch_dirs, recover_swap, swap_dir
from docling_rag_spark.operators.pipeline import chunks_table
from docling_rag_spark.plans.ann_index import (CELL, MIN_TRAIN,
                                               build_ann_index, index_lock,
                                               write_delta)
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
    """Stream pages -> extract -> embed -> append embeddings + a cell-
    partitioned ANN delta per micro-batch. Returns the StreamingQuery."""
    from docling_rag_spark.operators.embed import embed_chunks

    emb_dir = os.path.join(out_dir, "embeddings")
    ann = os.path.join(out_dir, "ann")

    def process_batch(docs, batch_id: int) -> None:
        chunks = chunks_table(docs.filter(F.col("status") != "error"))
        emb = embed_chunks(chunks).persist()
        try:
            (emb.write.mode("overwrite")
             .parquet(os.path.join(emb_dir, f"batch={batch_id}")))
            # an empty batch writes its embeddings dir but no delta
            if emb.isEmpty() or write_delta(
                    emb, ann,
                    os.path.join(_delta_dir(out_dir), f"batch={batch_id}")):
                return
            every = spark.read.parquet(emb_dir)
            if every.count() >= MIN_TRAIN:  # no index yet: build one
                build_ann_index(spark, every, ann, ("url", "chunk_id"),
                                delta_dir=_delta_dir(out_dir))
        finally:
            emb.unpersist()

    docs = extracted_docs_stream(spark, pages_dir, max_tokens)
    writer = docs.writeStream.foreachBatch(process_batch)
    return start_stream(writer, checkpoint_dir, available_now)


def compact_ann_index(spark: SparkSession, out_dir: str,
                      include_newest: bool = False) -> dict:
    """Fold delta batches into the base table by cell (Iceberg
    rewrite-data-files in miniature; run under the warehouse commit lock
    so it cannot interleave with another compactor). The newest delta is
    left in place by default — it is the only batch a crashed stream can
    replay; pass ``include_newest=True`` only when the stream is known
    stopped (a drained availableNow run)."""
    delta = _delta_dir(out_dir)
    base = os.path.join(out_dir, "ann", "pq")
    if not os.path.isdir(delta):
        return {"compacted_batches": 0}
    # compactor-vs-compactor: a second compactor merging the PRE-swap base
    # would overwrite the first one's folded deltas; a dedicated long-lease
    # lock (separate from the short-hold commit lock) serializes whole
    # compactions
    with index_lock(os.path.dirname(base), timeout=10.0):
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
    merged.write.partitionBy(CELL).mode("overwrite").parquet(tmp)
    swap_dir(tmp, base)
    for d in snap_dirs:  # ONLY the snapshotted batches
        shutil.rmtree(d, ignore_errors=True)
    return {"compacted_batches": len(batches)}
