"""Documents registry with MERGE-style upsert (reference S7).

The reference upserts registry cards with ``INSERT … ON CONFLICT DO UPDATE``
where every field COALESCEs to the existing value, tags are replaced only by
a non-empty new list, and ``added_at`` is preserved from the first insert
(storage/db_registry.py:22-45). With Iceberg this is literally::

    MERGE INTO documents t USING updates s ON t.url = s.url
    WHEN MATCHED THEN UPDATE SET
      title  = coalesce(s.title,  t.title),
      author = coalesce(s.author, t.author),
      topic  = coalesce(s.topic,  t.topic),
      tags   = CASE WHEN size(s.tags) > 0 THEN s.tags ELSE t.tags END
    WHEN NOT MATCHED THEN INSERT *

No Iceberg runtime ships in this sandbox, so ``upsert_documents`` computes
the merged snapshot as a DataFrame (full outer join + coalesce — the exact
relational semantics of the MERGE above) and the caller commits it as a new
snapshot directory (warehouse-style atomic rename). Metadata strings are
normalized first per the reference's rules (core/metadata.py:65-83):
empty/"null"/"none" → NULL, tags lowercased/trimmed/deduped/capped at 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_rag_spark.config import MAX_TAGS, NULLISH_STRINGS

REGISTRY_COLS = ("url", "title", "author", "topic", "tags", "lang",
                 "n_chunks", "added_at")


def normalize_meta_string(col):
    """F6/D2: strip; empty/'null'/'none' (ci) → NULL."""
    trimmed = F.trim(col)
    return F.when(F.lower(trimmed).isin(*NULLISH_STRINGS), F.lit(None)) \
            .otherwise(trimmed)


def normalize_tags(col):
    """D2: lowercase, trim, drop nullish, dedupe (first occurrence), cap 5.
    Order-stable so replayed upserts are byte-identical."""
    cleaned = F.filter(
        F.transform(col, lambda t: F.trim(F.lower(t))),
        lambda t: ~t.isin(*NULLISH_STRINGS))
    return F.slice(F.array_distinct(cleaned), 1, MAX_TAGS)


def normalize_updates(updates: DataFrame) -> DataFrame:
    out = updates
    for c in ("title", "author", "topic"):
        if c in updates.columns:
            out = out.withColumn(c, normalize_meta_string(F.col(c)))
    if "tags" in updates.columns:
        out = out.withColumn("tags", normalize_tags(F.col("tags")))
    return out


def collapse_updates(updates: DataFrame) -> DataFrame:
    """One row per url before the MERGE join. A real Iceberg MERGE errors
    when multiple source rows match one target row; silently joining a
    duplicated batch would emit duplicate url rows into the snapshot. We
    collapse deterministically instead of erroring so replayed/overlapping
    batches stay idempotent: winner = greatest row under a total order on
    the serialized row (stable regardless of partitioning), which makes the
    collapse commutative across batch orderings of identical rows."""
    from pyspark.sql import Window

    others = [c for c in updates.columns if c != "url"]
    if not others:
        return updates.dropDuplicates(["url"])
    w = (Window.partitionBy("url")
         .orderBy(F.to_json(F.struct(*others)).desc_nulls_last()))
    return (updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def upsert_documents(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """Merged registry snapshot (the MERGE in the module docstring).

    Column rules per db_registry.py:31-45: scalars keep the old value when
    the (normalized) new one is NULL; tags are replaced only by a non-empty
    list; added_at of existing rows is preserved, new rows take theirs.
    Updates are collapsed to one row per url first (see collapse_updates).
    """
    s = collapse_updates(normalize_updates(updates)).alias("s")
    t = existing.alias("t")
    joined = t.join(s, F.col("t.url") == F.col("s.url"), "full_outer")
    url = F.coalesce(F.col("t.url"), F.col("s.url"))

    def scalar(c):
        if c not in updates.columns:
            return F.col(f"t.{c}")
        if c not in existing.columns:
            return F.col(f"s.{c}")
        return F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))

    tags = (F.when(F.size(F.coalesce(F.col("s.tags"),
                                     F.array().cast("array<string>"))) > 0,
                   F.col("s.tags"))
            .otherwise(F.col("t.tags"))
            if "tags" in updates.columns and "tags" in existing.columns
            else scalar("tags"))

    added_at = (F.coalesce(F.col("t.added_at"), F.col("s.added_at"))
                if "added_at" in existing.columns
                and "added_at" in updates.columns else scalar("added_at"))

    cols = [url.alias("url")]
    for c in REGISTRY_COLS[1:]:
        if c not in existing.columns and c not in updates.columns:
            continue  # partial-column update: absent on BOTH sides
        if c == "tags":
            cols.append(tags.alias("tags"))
        elif c == "added_at":
            cols.append(added_at.alias("added_at"))
        else:
            cols.append(scalar(c).alias(c))
    return joined.select(*cols)


def upsert_registry_table(spark, out_dir: str, updates: DataFrame,
                          num_buckets: int | None = None) -> dict:
    """Bucket-pruned MERGE into the on-disk registry table (the same
    partition-pruned write shape as ``delete_urls``): only the url-hash
    buckets that can contain updated urls are read, merged via
    ``upsert_documents``, and atomically re-committed — every other
    bucket's files are untouched. On Iceberg this is the MERGE INTO from
    the module docstring against a ``bucket(N, url)``-partitioned table;
    a 10^12-row registry rewrites only the touched buckets either way."""
    import os
    import shutil

    from docling_rag_spark.config import DEFAULT_NUM_BUCKETS
    from docling_rag_spark.io import snapshots as snap
    from docling_rag_spark.io import warehouse as wh
    from docling_rag_spark.plans.job import bucket_of

    num_buckets = wh.resolve_num_buckets(out_dir, num_buckets,
                                         DEFAULT_NUM_BUCKETS)
    table_dir = os.path.join(out_dir, "registry")
    updates = collapse_updates(normalize_updates(updates))
    buckets = sorted({
        r["bucket"] for r in updates.select(
            bucket_of(F.col("url"), num_buckets).alias("bucket"))
        .distinct().collect()})

    def bucket_sig():
        # per-bucket (inode, mtime) signature: commit_buckets replaces the
        # whole dir via rename, so any concurrent commit changes it
        sig = {}
        for b in buckets:
            d = wh.bucket_dir(table_dir, b)
            try:
                st = os.stat(d)
                sig[b] = (st.st_ino, st.st_mtime_ns)
            except FileNotFoundError:
                sig[b] = None
        return sig

    import uuid
    # Optimistic read-merge-commit with conflict retry: the read-merge runs
    # OUTSIDE the lock (Spark work must not hold it), so a concurrent
    # upsert to the same bucket could commit between our read and our
    # commit — last-write-wins would silently drop its fields. The bucket
    # signature taken at read time is the commit's validation; a change
    # restarts the merge against the fresh base.
    for _attempt in range(5):
        base_sig = bucket_sig()
        existing = wh.read_buckets(spark, out_dir, "registry", buckets)
        existing = (spark.createDataFrame([], updates.schema)
                    if existing is None else existing.drop("bucket"))
        merged = upsert_documents(existing, updates).withColumn(
            "bucket", bucket_of(F.col("url"), num_buckets))
        # unique per-invocation staging dir (same rationale as delete_urls:
        # concurrent writers must never share a staging path)
        staging = os.path.join(out_dir, "_staging",
                               f"registry-{uuid.uuid4().hex[:12]}")
        try:
            manifest = wh.stage_buckets(merged, staging, "registry", buckets)
            snap.commit_rewrite(
                out_dir, {"registry": (staging, merged.schema)}, buckets,
                num_buckets, "registry-upsert",
                conflicts=lambda: buckets if bucket_sig() != base_sig
                else [], manifest=manifest)
            return {"buckets_rewritten": buckets}
        except wh.CommitConflict:
            continue  # concurrent commit: re-merge on the fresh base
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    raise wh.CommitConflict(buckets, "registry-upsert")
