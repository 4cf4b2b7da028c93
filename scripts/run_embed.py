#!/usr/bin/env python
"""Embedding job: chunks table → embeddings table (optional tier, X7).

Reads the extraction warehouse's ``chunks`` table, embeds ``context_text``
with the deterministic hashed-projection encoder, writes
``<out>/embeddings`` partitioned by the same url-hash buckets (so search
joins are co-located). Map-only: scan → pandas UDF → write, zero shuffles.

Usage: python scripts/run_embed.py --warehouse /tmp/wh [--buckets N]

``--buckets`` defaults to the warehouse's pinned modulus; a value that
differs from it is refused.
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
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--ann-index", action="store_true",
                    help="also materialize the IVF-PQ index "
                         "<warehouse>/ann/pq, partitioned by coarse cell "
                         "so searches read only their probe cells")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    import docling_rag_spark
    from docling_rag_spark.plans.job import embed_warehouse
    from docling_rag_spark.session import get_spark

    spark = get_spark(app_name="embed", cores=args.cores)
    docling_rag_spark.ship(spark)

    t0 = time.time()
    emb_dir = embed_warehouse(spark, args.warehouse, args.buckets)
    n = spark.read.parquet(emb_dir).count()
    out = {"embedded_chunks": n}
    if args.ann_index:
        from docling_rag_spark.plans.ann_index import build_ann_index
        emb = spark.read.parquet(emb_dir)
        build_ann_index(spark, emb, os.path.join(args.warehouse, "ann"),
                        id_cols=("url", "chunk_id"))
        out["ann_index"] = os.path.join(args.warehouse, "ann")
    dt = time.time() - t0
    out.update(elapsed_sec=round(dt, 2), chunks_per_sec=round(n / dt, 2))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
