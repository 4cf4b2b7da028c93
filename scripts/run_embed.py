#!/usr/bin/env python
"""Embedding job: chunks table → embeddings table (optional tier, X7).

Reads the extraction warehouse's ``chunks`` table, embeds ``context_text``
with the deterministic hashed-projection encoder, writes
``<out>/embeddings`` partitioned by the same url-hash buckets (so search
joins are co-located). Map-only: scan → pandas UDF → write, zero shuffles.

Usage: python scripts/run_embed.py --warehouse /tmp/wh [--buckets 64]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--ann-index", action="store_true",
                    help="also materialize the IVF-PQ index "
                         "<warehouse>/ann/pq, partitioned by coarse cell "
                         "so searches read only their probe cells")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    import docling_rag_spark
    from docling_rag_spark.operators.embed import embed_chunks
    from docling_rag_spark.plans.job import bucket_of
    from docling_rag_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="embed", cores=args.cores)
    docling_rag_spark.ship(spark)

    chunks = spark.read.parquet(os.path.join(args.warehouse, "chunks"))
    t0 = time.time()
    (embed_chunks(chunks)
     .withColumn("bucket", bucket_of(F.col("url"), args.buckets))
     .write.partitionBy("bucket").mode("overwrite")
     .parquet(os.path.join(args.warehouse, "embeddings")))
    n = spark.read.parquet(os.path.join(args.warehouse, "embeddings")).count()
    out = {"embedded_chunks": n}
    if args.ann_index:
        from docling_rag_spark.plans.ann_index import build_ann_index
        emb = spark.read.parquet(os.path.join(args.warehouse, "embeddings"))
        build_ann_index(spark, emb, os.path.join(args.warehouse, "ann"),
                        id_cols=("url", "chunk_id"),
                        delta_dir=os.path.join(args.warehouse, "ann_delta"))
        out["ann_index"] = os.path.join(args.warehouse, "ann")
    dt = time.time() - t0
    out.update(elapsed_sec=round(dt, 2), chunks_per_sec=round(n / dt, 2))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
