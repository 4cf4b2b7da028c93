"""Warehouse-spec maintenance: bucket-modulus (partition-spec) evolution.

The url-hash modulus is the warehouse's partition spec (Iceberg
``bucket(N, url)``): every table shares it, and every job resolves it
from pinned metadata (``warehouse.resolve_num_buckets``). A crawl that
grows 100× needs the spec to grow with it — 64 buckets that were right
at one snapshot become straggler-sized at the next — and Iceberg models
exactly this as partition-spec evolution (a new spec id; old data files
keep the old spec until rewritten). This module is the explicit rewrite:
``rebucket_warehouse`` re-hashes every bucketed table to a new modulus
as one logged, retained, conflict-checked commit.

Scale shape: one shuffle per table, staged through the same
``warehouse.stage_buckets`` every bucket writer uses (one url-sorted file
per bucket, routed by id: no sampling job), no driver-side row handling,
and the whole job holds the compaction + commit locks — it is a
maintenance window operation, exactly like Iceberg's ``rewrite_data_files``
after ``ALTER TABLE ... SET PARTITION SPEC``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.io import snapshots as snap
from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.plans.job import bucket_of


def rebucket_warehouse(spark: SparkSession, out_dir: str, new_buckets: int,
                       tables: tuple[str, ...] = ("chunks", "extracted",
                                                  "registry", "embeddings"),
                       ) -> dict:
    """Re-hash every bucketed table to ``new_buckets`` and re-pin the
    warehouse spec (Iceberg partition-spec evolution + data-file rewrite).

    Runs under the compaction lock for its whole duration (serialized
    against delete and ANN index swaps) and commits under the commit lock
    with optimistic-concurrency validation and lineage rows, so a concurrent
    extraction job sees it exactly like any newer snapshot commit and
    aborts instead of committing at the dead modulus. With retention on,
    every displaced and retired bucket dir parks under the rebucket
    commit — the pre-rebucket table stays time-travel-readable (as-of
    reads re-derive the bucket column from url, so the old modulus reads
    fine through the new spec).

    Crash story: bucket renames are per-dir atomic but the job spans many;
    a crash leaves a mixed-modulus table. Rerunning the same rebucket is
    the documented recovery — the keyed dedup above makes it exact.
    """
    if new_buckets < 1:
        raise ValueError(f"new_buckets must be >= 1, got {new_buckets}")
    old_pinned = wh.warehouse_num_buckets(out_dir)
    if old_pinned == new_buckets:
        return {"rebucketed": False, "num_buckets": new_buckets,
                "tables": {}}

    run_id = uuid.uuid4().hex[:12]
    commit_id = f"rebucket-{new_buckets}-{run_id}"
    staging_root = os.path.join(out_dir, "_staging", commit_id)
    stats: dict[str, int] = {}
    manifests: dict[str, list[dict]] = {}

    with wh.compaction_lock(out_dir, timeout=30.0):
        # In-progress marker FIRST (the crash story's linchpin): until the
        # final spec pin clears it, every writing job's
        # resolve_num_buckets refuses to run — a crash mid-rebucket can
        # leave a mixed-modulus table, and a writer resolving the OLD
        # spec over it would silently duplicate rows. The rerun of this
        # same command is the recovery; it tolerates the marker.
        with wh.commit_lock(out_dir):
            wh.mark_rebucket(out_dir, old_pinned, new_buckets)
        base_ts = wh.now()
        present = [t for t in tables
                   if os.path.isdir(os.path.join(out_dir, t))
                   and any(e.startswith("bucket=") for e in
                           os.listdir(os.path.join(out_dir, t)))]
        stale: dict[str, list[int]] = {}
        try:
            for t in present:
                table_dir = os.path.join(out_dir, t)
                stale[t] = sorted(
                    int(e.split("=", 1)[1])
                    for e in os.listdir(table_dir)
                    if e.startswith("bucket=")
                    and int(e.split("=", 1)[1]) >= new_buckets)
                # rebucket re-reads whatever bucket dirs exist, so a rerun
                # after a mid-job crash can see a url in BOTH its old- and
                # new-modulus bucket; dedup on the natural key (every table
                # is unique on it, and keys are drop-protected) restores
                # exactly-once. stage_buckets leaves a dir for every new
                # bucket, so the commit replaces each old dir even when no
                # row hashes to it.
                key = list(wh.TABLE_KEYS.get(t, ("url",)))
                df = (wh.read_table(spark, out_dir, t).drop("bucket")
                      .dropDuplicates(key)
                      .withColumn("bucket", bucket_of(F.col("url"),
                                                      new_buckets)))
                manifests[t] = wh.stage_buckets(
                    df, os.path.join(staging_root, t), t,
                    list(range(new_buckets)))
                stats[t] = sum(r["rows"] for r in manifests[t])

            touched = sorted({b for t in present
                              for b in range(new_buckets)} |
                             {b for bs in stale.values() for b in bs})
            with wh.commit_lock(out_dir):
                conflicts = wh.conflicting_buckets(out_dir, commit_id,
                                                   touched, base_ts)
                if conflicts:
                    raise wh.CommitConflict(conflicts, commit_id)
                ts = wh.now()
                for t in present:
                    snap.commit_buckets_retained(
                        out_dir, os.path.join(staging_root, t), t,
                        list(range(new_buckets)), "rebucket", ts,
                        files=wh.manifest_files(manifests[t], t),
                        commit_id=f"{commit_id}-{t}")
                    if stale[t]:
                        snap.retire_buckets(
                            out_dir, t, stale[t], "rebucket", ts,
                            commit_id=f"{commit_id}-{t}-retire")
                wh.pin_num_buckets(out_dir, new_buckets, allow_change=True)
                # lineage row per touched bucket: a concurrent writer's
                # optimistic conflict check must see the spec change
                wh.append_lineage(out_dir, commit_id, [{
                    "input_snapshot_id": commit_id, "bucket": b,
                    "doc_count": 0, "chunk_count": 0, "failure_count": 0,
                    "started_at": base_ts, "finished_at": ts}
                    for b in touched])
        finally:
            shutil.rmtree(staging_root, ignore_errors=True)

    return {"rebucketed": True, "num_buckets": new_buckets,
            "previous": old_pinned, "tables": stats,
            "commit_id": commit_id}
