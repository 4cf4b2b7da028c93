#!/usr/bin/env python
"""ANN compaction cost/benefit evidence (VERDICT r3 task 7).

Builds the incremental-index layout at sf1 scale — base IVF-PQ index (12k
vectors) + 16 streaming-shaped cell-partitioned delta batches (500 vectors
each, encoded with the base's codebooks) — then measures the served probe
(``plans.ann_index.probe``) BEFORE and AFTER ``compact_ann_index``: wall
per query, files opened by the pruned scans, and recall@10 vs the exact
brute force (which must be IDENTICAL pre/post — compaction is a layout
change, not an answer change).

Prints ONE JSON line. Usage:
    python scripts/bench_ann_compaction.py [--sf-dir .benchdata/sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BASE = 12_000      # of sf1's 20k embeddings
DELTA_ROWS = 500
N_DELTAS = 16
N_QUERIES = 16
TOP_K = 10


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".benchdata", "sf1"))
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import functions as F

    from docling_rag_spark.plans import ann_index as AI
    from docling_rag_spark.session import get_spark
    from docling_rag_spark.streaming.embed_index import compact_ann_index

    from pyspark.sql import Window

    spark = get_spark(app_name="bench-ann-compaction")
    # dense rank: sf1 vec_ids are sparse; slice by position (20k rows —
    # the one-partition window is bench plumbing, not a production shape)
    emb = (spark.read.parquet(os.path.join(args.sf_dir,
                                           "embeddings.parquet"))
           .select(F.col("vec_id").cast("long").alias("vec_id"),
                   "embedding")
           .withColumn("rid", F.row_number().over(
               Window.orderBy("vec_id")) - 1)
           .persist())
    dim = len(emb.select("embedding").first()["embedding"])
    n_total = N_BASE + N_DELTAS * DELTA_ROWS

    out = tempfile.mkdtemp(prefix="ann-compact-bench-")
    ann, delta = os.path.join(out, "ann"), os.path.join(out, "ann_delta")
    id_cols = ("vec_id",)
    try:
        AI.build_ann_index(spark, emb.filter(F.col("rid") < N_BASE), ann,
                           id_cols=id_cols)
        for b in range(N_DELTAS):
            lo = N_BASE + b * DELTA_ROWS
            AI.write_delta(emb.filter((F.col("rid") >= lo)
                                      & (F.col("rid") < lo + DELTA_ROWS)),
                           ann, os.path.join(delta, f"batch={b}"),
                           id_cols=id_cols)

        qvecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
                 for r in emb.filter(F.col("rid") < N_QUERIES).collect()}
        side = AI.read_books(ann)

        def run_queries():
            walls, files, hits, csets = [], [], {}, {}
            for qid in sorted(qvecs):
                q = qvecs[qid]
                t0 = time.time()
                top = AI.probe(spark, ann, q, id_cols, TOP_K, delta_dir=delta)
                hits[qid] = [int(r["vec_id"]) for r in top.collect()]
                walls.append(time.time() - t0)
                cand = AI.cell_rows(spark, ann, side,
                                    AI.probe_cells(q, side["coarse"]), delta)
                files.append(len(cand.inputFiles()))
                csets[qid] = {int(r["vec_id"])
                              for r in cand.select("vec_id").collect()}
            return walls, files, hits, csets

        run_queries()  # warm-up (codegen, partition discovery)
        walls_pre, files_pre, hits_pre, csets_pre = run_queries()

        t0 = time.time()
        rep = compact_ann_index(spark, out, include_newest=True)
        compact_wall = time.time() - t0

        run_queries()  # warm-up post layout change
        walls_post, files_post, hits_post, csets_post = run_queries()

        # exact recall (numpy brute force over the indexed slice)
        pdfall = (emb.filter(F.col("rid") < n_total).drop("rid")
                  .toPandas().sort_values("vec_id"))
        A = np.vstack(pdfall["embedding"].to_numpy())
        ids = pdfall["vec_id"].to_numpy()
        nrm = np.linalg.norm(A, axis=1)

        def recall(hits):
            rs = []
            for qid, top in hits.items():
                qv = np.asarray(qvecs[qid])
                exact = ids[np.argsort(-(A @ qv)
                                       / (nrm * np.linalg.norm(qv)))][:TOP_K]
                rs.append(len(set(top) & set(int(x) for x in exact)))
            return sum(rs) / len(rs)

        print(json.dumps({
            "metric": "ann probe wall pre/post compaction",
            "sf_dir": args.sf_dir, "dim": dim,
            "n_base": N_BASE, "n_deltas": N_DELTAS,
            "delta_rows": DELTA_ROWS,
            "query_wall_pre_s": round(sum(walls_pre) / len(walls_pre), 4),
            "query_wall_post_s": round(sum(walls_post) / len(walls_post), 4),
            "files_scanned_pre": round(sum(files_pre) / len(files_pre), 1),
            "files_scanned_post": round(sum(files_post) / len(files_post), 1),
            "compact_wall_s": round(compact_wall, 2),
            "compacted_batches": rep["compacted_batches"],
            "topk_identical": hits_pre == hits_post,
            "candidate_sets_identical": csets_pre == csets_post,
            "topk_diff_queries": [q for q in hits_pre
                                  if hits_pre[q] != hits_post[q]],
            "recall_at_10_pre": recall(hits_pre),
            "recall_at_10_post": recall(hits_post),
        }))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
