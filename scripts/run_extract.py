#!/usr/bin/env python
"""Batch extraction job entrypoint (the spark-submit surface).

Usage:
    python scripts/run_extract.py --pages <pages.parquet> --out <warehouse_dir>
        [--snapshot snap-0] [--buckets 64] [--buckets-per-batch N]
        [--cores 32] [--gen-docs N]   # synthesize the input first

On a real cluster:
    spark-submit --py-files docling_rag_spark.zip scripts/run_extract.py ...
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
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--snapshot", default="snap-0")
    ap.add_argument("--buckets", type=int, default=None,
                    help="url-hash modulus; omitted = the warehouse's "
                         "pinned spec (64 on a fresh warehouse)")
    ap.add_argument("--buckets-per-batch", type=int, default=None)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--gen-docs", type=int, default=None,
                    help="synthesize a deterministic pages table of N docs first")
    ap.add_argument("--gen-heaviness", type=int, default=1,
                    help="content-size multiplier for synthesized pages")
    ap.add_argument("--warmup", action="store_true",
                    help="warm executor Python workers before timing")
    ap.add_argument("--mode", choices=("overwrite", "merge"),
                    default="overwrite",
                    help="merge = incremental MERGE INTO: parse only "
                         "new/updated urls, rewrite only touched buckets")
    ap.add_argument("--retain-snapshots", action="store_true",
                    help="park displaced bucket versions for time travel /"
                         " rollback (scripts/snapshots_cli.py reads them)")
    args = ap.parse_args()

    if args.gen_docs:
        from docling_rag_spark.sources.pages import write_pages_parquet
        n = write_pages_parquet(args.pages, args.gen_docs,
                                heaviness=args.gen_heaviness)
        print(f"generated {n} pages -> {args.pages}", file=sys.stderr)

    import docling_rag_spark
    from docling_rag_spark.plans.job import run_extraction
    from docling_rag_spark.session import get_spark

    spark = get_spark(app_name="extract", cores=args.cores)
    docling_rag_spark.ship(spark)

    if args.warmup:
        # Spawn + warm the executor Python workers (imports, parser tables)
        # on a tiny slice before the clock starts: reported throughput is
        # the steady-state number a long-running 10^12-doc job sees, not
        # cold-start amortized over a bench-sized input.
        from docling_rag_spark.operators.pipeline import extract_documents
        warm = spark.read.parquet(args.pages).limit(4 * args.cores)
        extract_documents(warm, salt_partitions=4 * args.cores).count()
        # JIT-warm the JVM-side paths too, by running the full job once on
        # a small isolated warehouse: the first executions of the job's
        # JVM stages in a fresh executor JVM (routing shuffle, sorter,
        # Arrow transport) run well above steady-state task CPU until
        # HotSpot's tiered compiler kicks in — a fixed per-JVM warmup cost
        # that repeats in EVERY executor, so it never parallelizes away
        # (pure Amdahl tail in N-vs-4N scaling: a since-retired chunks
        # write stage ran 45.7 task-sec at 1 executor vs 71.7 at 4 — more
        # fresh JVMs, more cold tasks). The warm slice must carry real
        # volume — C2 compiles on invocation/loop-iteration counts, so a
        # code-path touch with a handful of rows warms nothing (measured:
        # no effect); ~2k docs (~60k chunk rows) does.
        import shutil as _sh
        import tempfile as _tf
        wtmp = _tf.mkdtemp(prefix="warm_extract_")
        try:
            warm_docs = spark.read.parquet(args.pages).limit(
                max(2000, 4 * args.cores))
            warm_docs.write.mode("overwrite").parquet(
                os.path.join(wtmp, "pages"))
            # num_buckets >= salt_partitions takes route_buckets'
            # whole-bucket branch, the one the timed region runs, so the
            # warmed plan shape is the timed one.
            run_extraction(
                spark, os.path.join(wtmp, "pages"),
                os.path.join(wtmp, "wh"), snapshot_id="warm",
                num_buckets=max(2 * args.cores, 16),
                salt_partitions=args.cores)
        finally:
            _sh.rmtree(wtmp, ignore_errors=True)

    t0 = time.time()
    report = run_extraction(
        spark, args.pages, args.out,
        snapshot_id=args.snapshot,
        num_buckets=args.buckets,
        buckets_per_batch=args.buckets_per_batch,
        salt_partitions=args.salt_partitions or args.cores,
        mode=args.mode,
        retain_snapshots=args.retain_snapshots,
    )
    elapsed = time.time() - t0
    print(json.dumps({
        "snapshot_id": report.snapshot_id,
        "buckets_total": report.buckets_total,
        "buckets_skipped": report.buckets_skipped,
        "buckets_done": report.buckets_done,
        "doc_count": report.doc_count,
        "chunk_count": report.chunk_count,
        "failure_count": report.failure_count,
        "docs_unchanged": report.docs_unchanged,
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": round(report.doc_count / elapsed, 2) if elapsed else None,
        # per-phase walls: udf_stage (parse, chunk and stage in one
        # task set) and commit
        "phase_sec": report.phase_sec,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
