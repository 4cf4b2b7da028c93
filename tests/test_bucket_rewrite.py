"""One bucket-rewrite path: staged buckets are installed only through
``snapshots.commit_rewrite`` — extraction (overwrite and merge), delete
and registry upsert all call it — so every warehouse policy (retention,
spec and schema pinning, lineage validation) reaches every writer.
Rebucket installs a whole new layout and commits on its own; it still
stages through ``warehouse.stage_buckets``. Every staged file is written
by one task-side writer, and a commit installs only the files its
manifest lists."""

from __future__ import annotations

import os
import pathlib
import re
import shutil

PKG = pathlib.Path(__file__).resolve().parent.parent / "docling_rag_spark"
ALLOWED = {"io/snapshots.py", "plans/maintenance.py"}
CALL = re.compile(r"(?<!def )\bcommit_buckets(?:_retained)?\(")


def test_only_the_shared_module_installs_buckets():
    callers = set()
    for f in PKG.rglob("*.py"):
        rel = f.relative_to(PKG).as_posix()
        if CALL.search(f.read_text()):
            callers.add(rel)
    assert callers - ALLOWED == set(), (
        "commit_buckets / commit_buckets_retained called outside "
        "io/snapshots.commit_rewrite (and rebucket)")
    assert "io/snapshots.py" in callers


def test_only_the_warehouse_routes_buckets():
    """Every bucket-aligned write routes through ``warehouse.route_buckets``:
    no other module picks its own partitioner for the bucket layout."""
    callers = {f.relative_to(PKG).as_posix() for f in PKG.rglob("*.py")
               if re.search(r"\brepartitionBy(?:Id|Range)\(", f.read_text())}
    assert callers == {"io/warehouse.py"}


def test_one_staged_file_writer():
    """Staged bucket files are written by ``warehouse.write_bucket_files``
    only: no other module opens a parquet writer, and Spark's own
    ``partitionBy("bucket")`` writer is left only in the map-only
    ``embed_warehouse``."""
    writers = {f.relative_to(PKG).as_posix() for f in PKG.rglob("*.py")
               if "ParquetWriter(" in f.read_text()}
    assert writers == {"io/warehouse.py"}
    spark_writes = {f.relative_to(PKG).as_posix() for f in PKG.rglob("*.py")
                    if 'write.partitionBy("bucket")' in f.read_text()}
    assert spark_writes == {"plans/job.py"}


def test_commit_installs_only_listed_files(spark, tmp_path):
    """A file in a staged bucket dir that the writer's manifest does not
    list (say, a failed task attempt's) is never installed."""
    from pyspark.sql import functions as F

    from docling_rag_spark.io import snapshots as snap
    from docling_rag_spark.io import warehouse as wh

    buckets = [0, 1, 2, 3]
    df = (spark.range(40).withColumn("url", F.col("id").cast("string"))
          .withColumn("bucket",
                      F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")))
    staged, out = str(tmp_path / "staged"), str(tmp_path / "wh")
    manifest = wh.stage_buckets(df, staged, "extracted", buckets)
    listed = wh.manifest_files(manifest, "extracted")
    (name,) = listed[2]
    shutil.copy(os.path.join(wh.bucket_dir(staged, 2), name),
                os.path.join(wh.bucket_dir(staged, 2),
                             "part-00002-999.zstd.parquet"))
    snap.commit_rewrite(out, {"extracted": (staged, df.schema)}, buckets, 4,
                        "planted", conflicts=lambda: [], manifest=manifest)
    table_dir = os.path.join(out, "extracted")
    for b in buckets:
        assert set(os.listdir(wh.bucket_dir(table_dir, b))) == \
            listed.get(b, set()), b
    assert spark.read.parquet(table_dir).count() == 40
