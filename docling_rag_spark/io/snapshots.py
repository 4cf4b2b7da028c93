"""Iceberg-style snapshot retention: time travel, rollback, expiry.

The reference leans on postgres MVCC for point-in-time consistency (every
read runs inside a transaction snapshot; ``DELETE``/upsert history lives in
the WAL until vacuum). Iceberg makes the same facility explicit: every
commit is a snapshot in the table's metadata log, old data files stay on
disk until ``expire_snapshots``, and ``SELECT ... FOR TIMESTAMP AS OF`` /
``rollback_to_snapshot`` resolve a historical file list.

This module is that metadata log for the bucket-committed parquet
warehouse (io/warehouse.py):

  * **retention** — ``commit_buckets(..., retain_to=...)`` parks each
    displaced bucket directory under
    ``<out>/_snapshots/<table>/<commit_id>/bucket=<k>`` instead of
    deleting it (a metadata-only rename: no data is copied, exactly like
    an Iceberg commit leaving the previous snapshot's files in place);
  * **commit log** — an append-only parquet table
    (``<out>/_snapshots/log/``, one fsync'd file per commit, the same
    atomic-append protocol as lineage) recording
    ``(commit_id, table, bucket, had_prev, committed_at)`` per bucket a
    commit replaced or created. Written in TWO phases: a hidden intent
    file lands before any bucket rename and one atomic rename promotes
    it afterwards, so a crash anywhere in between is reconciled by
    ``recover_intents`` against the actual directory state — the log can
    never silently disagree with the data (the Iceberg analog: data
    files first, then the atomic metadata-pointer swap);
  * **time travel** — ``read_table_as_of`` resolves, per bucket, the
    directory that was live at the requested timestamp: the version
    retained by the EARLIEST commit after the timestamp, or the current
    directory when no later commit touched the bucket;
  * **rollback** — ``rollback_table`` re-installs an as-of view as a new
    retained commit (history is never rewritten: the rolled-back-over
    state remains time-travel-readable, exactly like Iceberg's
    rollback producing a new snapshot);
  * **expiry** — ``expire_snapshots`` deletes retained commits older than
    a cutoff and compacts the log, bounding storage; reads as-of times
    earlier than the cutoff then raise ``SnapshotExpired``.

Scale notes: retention is O(buckets touched) directory renames inside the
already-held commit lock; the log is tiny (a few rows per commit) and read
driver-side like lineage; expiry is a driver-side metadata delete. Every
piece maps 1:1 onto the Iceberg snapshot log / ``expire_snapshots`` /
``rollback_to_timestamp`` procedures.

It is also the one commit path of every copy-on-write bucket rewrite:
``commit_rewrite`` validates, pins the bucket spec and table schema,
installs the staged buckets through ``commit_buckets_retained`` and
appends lineage, all under the commit lock. Extraction (overwrite and
merge), deletes and registry upserts call it (staged by
``warehouse.write_bucket_files``, for extraction inside the parse task),
so every warehouse policy — retention, spec and schema pinning —
applies to each of them by construction. Only rebucket (a new
layout for every bucket) and rollback (copies of retained versions)
commit on their own.

Every rewrite retains once the warehouse has a ``_snapshots`` dir. NOT
retained: the derived ANN index (rebuildable from the embeddings table).
Known race, shared with plain current-table reads: an as-of DataFrame
resolved before a concurrent ``expire`` may fail mid-scan when the
retained files vanish — rerun after expiry.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from docling_rag_spark.config import DEFAULT_NUM_BUCKETS
from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.io.warehouse import (append_parquet_atomic,
                                            bucket_dir, commit_buckets,
                                            commit_lock, now,
                                            pinned_table_schema,
                                            read_parquet_dir,
                                            warehouse_num_buckets)

LOG_ARROW_SCHEMA = pa.schema([
    ("commit_id", pa.string()),
    ("table", pa.string()),
    ("bucket", pa.int32()),
    ("had_prev", pa.bool_()),
    ("committed_at", pa.float64()),
])


class SnapshotExpired(RuntimeError):
    """The as-of timestamp predates the oldest retained snapshot for at
    least one bucket — its historical version was expired."""


def snapshots_root(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


def retained_dir(out_dir: str, table: str, commit_id: str) -> str:
    return os.path.join(snapshots_root(out_dir), table, commit_id)


def _log_dir(out_dir: str) -> str:
    return os.path.join(snapshots_root(out_dir), "log")


def log_append(out_dir: str, rows: list[dict]) -> str:
    """Atomic fsync'd append of one commit's log rows (same durability
    contract as warehouse.append_lineage — the log IS the time-travel
    commit record)."""
    return append_parquet_atomic(
        _log_dir(out_dir), LOG_ARROW_SCHEMA, rows,
        f"commit-{uuid.uuid4().hex[:12]}.parquet")


def _write_intent(out_dir: str, commit_id: str, rows: list[dict]) -> str:
    """Phase 1 of the two-phase commit record: a DOT-prefixed (hence
    invisible to ``log_read``/Spark listings) fsync'd parquet holding the
    planned log rows, written BEFORE any bucket rename. Phase 2
    (``_finalize_intent``) is a single atomic rename to the committed
    name — the real commit point. A crash between the phases leaves the
    intent for ``recover_intents`` to reconcile against the directory
    state, so the log can never silently disagree with the data
    (VERDICT-r3 review: log-after-rename made pre-crash history vanish
    silently)."""
    token = f"{commit_id}-{uuid.uuid4().hex[:8]}"
    return append_parquet_atomic(
        _log_dir(out_dir), LOG_ARROW_SCHEMA, rows,
        f".intent-{token}.parquet")


def _finalize_intent(out_dir: str, intent_path: str, commit_id: str) -> None:
    # the committed name derives from the intent's unique token: one
    # commit id may span several intents (extraction logs chunks and
    # extracted separately under one id)
    fn = os.path.basename(intent_path)[len(".intent-"):]
    os.rename(intent_path, os.path.join(_log_dir(out_dir), f"commit-{fn}"))


def _intent_files(out_dir: str) -> list[str]:
    d = _log_dir(out_dir)
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, fn) for fn in os.listdir(d)
                  if fn.startswith(".intent-") and fn.endswith(".parquet"))


def recover_intents(out_dir: str) -> int:
    """Reconcile crashed two-phase commits (MUST run under the commit
    lock; every writer and ``resolve_as_of`` do). For each orphaned
    intent, each bucket row is kept or dropped according to what the
    renames actually accomplished:

      * replaced bucket, parked old + new installed → commit completed
        for that bucket: keep the row;
      * parked old but nothing installed (crash between the two renames
        of one bucket): restore the parked dir — the bucket rolls back,
        drop the row;
      * nothing parked / nothing installed: the rename never ran, drop.

    Kept rows are finalized as a real log file; a fully-dead intent is
    simply removed. Returns the number of intents reconciled."""
    n = 0
    for path in _intent_files(out_dir):
        try:
            rows = pq.read_table(path).to_pylist()
        except pa.ArrowInvalid:
            os.unlink(path)  # torn intent: nothing ran, nothing to keep
            n += 1
            continue
        keep = []
        for r in rows:
            park_b = os.path.join(
                retained_dir(out_dir, r["table"], r["commit_id"]),
                f"bucket={r['bucket']}")
            cur = bucket_dir(os.path.join(out_dir, r["table"]), r["bucket"])
            parked, installed = os.path.isdir(park_b), os.path.isdir(cur)
            if r["had_prev"]:
                if parked and installed:
                    keep.append(r)
                elif parked:
                    os.rename(park_b, cur)  # roll the bucket back
            elif installed:
                keep.append(r)
        if keep:
            log_append(out_dir, keep)
        else:
            for r in rows:  # drop an empty park dir left behind
                d = retained_dir(out_dir, r["table"], r["commit_id"])
                if os.path.isdir(d) and not os.listdir(d):
                    os.rmdir(d)
        os.unlink(path)
        n += 1
    return n


def _watermark_path(out_dir: str) -> str:
    return os.path.join(snapshots_root(out_dir), "expired_before")


def expired_before(out_dir: str) -> float | None:
    """Expiry watermark: time travel to any instant earlier than this is
    unavailable (Iceberg: the snapshot was removed from the metadata log).
    ``None`` = nothing expired yet."""
    try:
        with open(_watermark_path(out_dir)) as f:
            return float(f.read())
    except (FileNotFoundError, ValueError):
        return None


def _set_expired_before(out_dir: str, ts: float) -> None:
    p = _watermark_path(out_dir)
    tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(repr(ts))
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, p)


def log_read(out_dir: str) -> list[dict]:
    """Committed snapshot-log rows (dot-prefixed intent files of crashed
    or in-flight commits are invisible by construction)."""
    return read_parquet_dir(_log_dir(out_dir), "snapshot log")


def retention_enabled(out_dir: str) -> bool:
    """True once any retained commit has been made (``_snapshots`` dir
    exists). Every bucket-rewriting writer — delete, registry upsert —
    must then retain what it displaces: a single non-retaining rewrite
    silently corrupts every as-of read before it."""
    return os.path.isdir(snapshots_root(out_dir))


def commit_buckets_retained(out_dir: str, staging_table_dir: str, table: str,
                            buckets: list[int], commit_tag: str,
                            committed_at: float, *,
                            files: dict[int, set[str]], force: bool = False,
                            commit_id: str | None = None) -> str | None:
    """``warehouse.commit_buckets`` honoring warehouse-level retention —
    the one entry point that installs staged buckets (``commit_rewrite``
    and rebucket call it inside the commit lock), ``files`` being the
    writer's manifest of them. When retention is off
    (and ``force`` is False) this is exactly ``commit_buckets``;
    when on, the displaced dirs are parked and logged under the commit id
    (returned). ``force`` turns retention on for a warehouse that has
    never retained (the ``--retain-snapshots`` opt-in); once any retained
    commit exists, every later call retains automatically.

    Two-phase log: the planned rows are written as a hidden intent BEFORE
    the renames and promoted to a committed log file by one atomic rename
    after — see ``recover_intents`` for the crash story.
    """
    recover_intents(out_dir)
    table_dir = os.path.join(out_dir, table)
    enabled = force or retention_enabled(out_dir)
    if not enabled:
        commit_buckets(staging_table_dir, table_dir, buckets, files)
        return None
    commit_id = commit_id or f"{commit_tag}-{uuid.uuid4().hex[:12]}"
    planned = [
        {"commit_id": commit_id, "table": table, "bucket": b,
         "had_prev": os.path.isdir(bucket_dir(table_dir, b)),
         "committed_at": committed_at}
        for b in buckets
        if os.path.isdir(bucket_dir(staging_table_dir, b))]
    if not planned:
        return None  # nothing staged for these buckets
    intent = _write_intent(out_dir, commit_id, planned)
    commit_buckets(staging_table_dir, table_dir, buckets, files,
                   retain_to=retained_dir(out_dir, table, commit_id))
    _finalize_intent(out_dir, intent, commit_id)
    return commit_id


def commit_rewrite(out_dir: str, staged: dict, buckets: list[int],
                   num_buckets: int, snapshot_id: str, *, conflicts,
                   manifest: list[dict], lineage: dict | None = None,
                   started_at: float | None = None, force: bool = False,
                   commit_id: str | None = None) -> list[dict]:
    """Commit a copy-on-write rewrite of ``buckets`` — the one commit
    path every bucket writer shares (the Iceberg commit that overwrite,
    MERGE and DELETE all end in).

    ``staged`` maps each table to ``(staging table dir, staged Spark
    schema)``; only the staged files ``manifest`` lists
    (``warehouse.write_bucket_files`` rows) are installed. Under the
    commit lock, in order:

      1. ``conflicts()`` — the writer's optimistic-concurrency validation,
         returning the buckets whose committed state moved since it read
         its base; any raise ``CommitConflict`` (completing the stale
         commit would silently roll them back);
      2. pin the bucket spec, then per table evolve the pinned schema
         BEFORE its renames (a reader must never see files the pinned
         schema cannot describe) and install the staged buckets;
      3. with ``lineage`` (bucket -> count overrides, absent = zeros), one
         lineage row per bucket, so a concurrent writer's ``conflicts``
         check sees this commit.

    Returns the lineage rows appended."""
    # module-attribute calls: the traced benchmark run wraps these
    # (perfbench/workloads.py SPANS) to time the commit phase
    with wh.commit_lock(out_dir):
        moved = conflicts()
        if moved:
            raise wh.CommitConflict(moved, snapshot_id)
        ts = wh.now()
        wh.pin_num_buckets(out_dir, num_buckets)
        for table, (staging_table_dir, schema) in staged.items():
            wh.pin_table_schema(out_dir, table, schema)
            commit_buckets_retained(
                out_dir, staging_table_dir, table, buckets, snapshot_id, ts,
                files=wh.manifest_files(manifest, table), force=force,
                commit_id=commit_id)
        if lineage is None:
            return []
        rows = [{"input_snapshot_id": snapshot_id, "bucket": b,
                 "doc_count": 0, "chunk_count": 0, "failure_count": 0,
                 **lineage.get(b, {}),
                 "started_at": started_at, "finished_at": ts}
                for b in buckets]
        wh.append_lineage(out_dir, snapshot_id, rows)
        return rows


def retire_buckets(out_dir: str, table: str, buckets: list[int],
                   commit_tag: str, committed_at: float, *,
                   commit_id: str | None = None) -> str | None:
    """Remove bucket directories as a logged, retained commit (a rebucket
    that SHRINKS the modulus leaves dirs beyond the new range holding
    already-rewritten rows). Call inside the commit lock. Retention on:
    dirs park under the commit id with a ``had_prev=True`` log row — the
    pre-retire content stays time-travel-readable. Retention off: the
    crash-safe hidden-rename removal ``commit_buckets`` uses. Returns the
    commit id when anything was logged."""
    recover_intents(out_dir)
    table_dir = os.path.join(out_dir, table)
    existing = [b for b in buckets
                if os.path.isdir(bucket_dir(table_dir, b))]
    if not existing:
        return None
    if not retention_enabled(out_dir):
        for b in existing:
            old = os.path.join(table_dir,
                               f".bucket={b}.old-{uuid.uuid4().hex[:8]}")
            os.rename(bucket_dir(table_dir, b), old)
            shutil.rmtree(old, ignore_errors=True)
        return None
    commit_id = commit_id or f"{commit_tag}-{uuid.uuid4().hex[:12]}"
    rows = [{"commit_id": commit_id, "table": table, "bucket": b,
             "had_prev": True, "committed_at": committed_at}
            for b in existing]
    intent = _write_intent(out_dir, commit_id, rows)
    park = retained_dir(out_dir, table, commit_id)
    os.makedirs(park, exist_ok=True)
    for b in existing:
        os.rename(bucket_dir(table_dir, b),
                  os.path.join(park, f"bucket={b}"))
    _finalize_intent(out_dir, intent, commit_id)
    return commit_id


def resolve_as_of(out_dir: str, table: str, ts: float) -> dict[int, str | None]:
    """Per bucket, the directory holding its content as of ``ts``.

    ``None`` value = the bucket did not exist at ``ts`` (its earliest
    post-``ts`` commit created it). Buckets untouched after ``ts`` resolve
    to their current directory. Raises :class:`SnapshotExpired` when a
    needed retained version was expired.
    """
    if _intent_files(out_dir):
        # a crashed commit left an unreconciled intent: repair under the
        # lock before resolving, so the log and the dirs agree (an
        # in-flight commit never exposes its intent — writers hold the
        # lock across intent→renames→finalize)
        with commit_lock(out_dir):
            recover_intents(out_dir)

    wm = expired_before(out_dir)
    if wm is not None and ts < wm:
        raise SnapshotExpired(
            f"as-of {ts} predates the expiry watermark {wm}: that history "
            "was removed by expire_snapshots")

    table_dir = os.path.join(out_dir, table)
    # earliest commit AFTER ts per bucket displaced (or created over) the
    # version live at ts
    first_after: dict[int, dict] = {}
    for r in log_read(out_dir):
        if r["table"] != table or r["committed_at"] <= ts:
            continue
        b = r["bucket"]
        cur = first_after.get(b)
        if cur is None or r["committed_at"] < cur["committed_at"]:
            first_after[b] = r

    out: dict[int, str | None] = {}
    for b, r in first_after.items():
        if not r["had_prev"]:
            out[b] = None  # created after ts
            continue
        d = os.path.join(retained_dir(out_dir, table, r["commit_id"]),
                         f"bucket={b}")
        if not os.path.isdir(d):
            raise SnapshotExpired(
                f"{table} bucket {b} as of {ts}: retained version of commit "
                f"{r['commit_id']!r} was expired")
        out[b] = d
    if os.path.isdir(table_dir):
        for e in os.listdir(table_dir):
            if e.startswith("bucket="):
                b = int(e.split("=", 1)[1])
                if b not in out:
                    out[b] = bucket_dir(table_dir, b)
    return out


def read_table_as_of(spark, out_dir: str, table: str, ts: float,
                     num_buckets: int | None = None):
    """The table's content as of ``ts`` as a DataFrame (Iceberg
    ``FOR TIMESTAMP AS OF``). The ``bucket`` partition column is
    re-derived from ``url`` (resolved paths span retained and current
    parents, so partition-dir inference cannot supply it)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from docling_rag_spark.plans.job import bucket_of

    # a pure read of history: an explicit modulus is honored verbatim
    # (time travel to before a rebucket legitimately uses the OLD spec —
    # the modulus only parameterizes the re-derived bucket column here,
    # so write-path spec validation would wrongly reject it)
    if num_buckets is None:
        num_buckets = warehouse_num_buckets(out_dir) or DEFAULT_NUM_BUCKETS
    paths = [p for p in resolve_as_of(out_dir, table, ts).values()
             if p is not None]
    if not paths:
        raise FileNotFoundError(
            f"table {table!r} had no committed buckets as of {ts}")
    # As-of paths span schema eras (retained dirs predate added columns);
    # read with the pinned schema — minus the bucket partition field these
    # parent-less leaf dirs cannot supply — so footer sampling can never
    # drop a column. Old files read added columns as null (reading history
    # through the LATEST schema, the Iceberg default for schema-on-read).
    pinned = pinned_table_schema(out_dir, table)
    reader = spark.read
    if pinned is not None:
        reader = reader.schema(T.StructType(
            [f for f in pinned.fields if f.name != "bucket"]))
    return (reader.parquet(*paths)
            .withColumn("bucket", bucket_of(F.col("url"), num_buckets)))


def expire_snapshots(out_dir: str, older_than: float) -> dict:
    """Drop retained commits with ``committed_at < older_than`` and
    compact the log (Iceberg ``expire_snapshots``). Time travel to any
    instant earlier than the oldest surviving commit becomes unavailable.
    Serialized against concurrent commits via the warehouse commit lock.
    """
    if not retention_enabled(out_dir):
        # a no-op expire must not CREATE _snapshots: that would silently
        # flip retention on for every future delete/upsert on a
        # warehouse that never opted in
        return {"expired_commits": 0, "dirs_removed": 0, "log_rows": 0}
    with commit_lock(out_dir):
        recover_intents(out_dir)
        rows = log_read(out_dir)
        keep = [r for r in rows if r["committed_at"] >= older_than]
        drop = [r for r in rows if r["committed_at"] < older_than]
        removed = 0
        for r in drop:
            d = retained_dir(out_dir, r["table"], r["commit_id"])
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        if drop:
            d = _log_dir(out_dir)
            old_files = [fn for fn in os.listdir(d)
                         if fn.endswith(".parquet") and not fn.startswith(".")]
            if keep:
                log_append(out_dir, keep)
            for fn in old_files:
                os.unlink(os.path.join(d, fn))
        prev_wm = expired_before(out_dir)
        if prev_wm is None or older_than > prev_wm:
            os.makedirs(snapshots_root(out_dir), exist_ok=True)
            _set_expired_before(out_dir, older_than)
        return {"expired_commits": len({(r['table'], r['commit_id'])
                                        for r in drop}),
                "dirs_removed": removed, "log_rows": len(keep)}


def rollback_table(out_dir: str, table: str, ts: float) -> dict:
    """Restore ``table`` to its as-of-``ts`` state as a NEW retained
    commit (Iceberg ``rollback_to_timestamp``: history moves forward, the
    rolled-back-over state stays time-travel-readable). Driver-side
    directory ops under the commit lock; retained versions are COPIED in
    via a staged-rename (they must survive for older as-of reads, and a
    torn copy must never land under the final name)."""
    table_dir = os.path.join(out_dir, table)
    commit_id = f"rollback-{uuid.uuid4().hex[:12]}"
    with commit_lock(out_dir):
        recover_intents(out_dir)
        # a crashed prior rollback can leave hidden half-copied staging
        # dirs (.rollback-<b>-<uuid>) that nothing else sweeps — Spark
        # listing ignores them, but the disk leak is unbounded
        if os.path.isdir(table_dir):
            for e in os.listdir(table_dir):
                if e.startswith(".rollback-"):
                    shutil.rmtree(os.path.join(table_dir, e),
                                  ignore_errors=True)
        resolved = resolve_as_of(out_dir, table, ts)
        park = retained_dir(out_dir, table, commit_id)
        commit_ts = now()
        plan: list[tuple[int, str | None, bool, str]] = []
        for b, src in sorted(resolved.items()):
            cur = bucket_dir(table_dir, b)
            if src == cur:
                continue  # unchanged since ts
            had_prev = os.path.isdir(cur)
            if src is None and not had_prev:
                continue  # absent at ts and absent now: nothing to do
            plan.append((b, src, had_prev, cur))
        if not plan:
            return {"commit_id": commit_id, "buckets_installed": 0,
                    "buckets_removed": 0, "buckets_changed": 0}
        # Lineage FIRST: conflicting_buckets() — the optimistic-concurrency
        # check every extraction/delete commit runs — scans lineage
        # only, so without this row a job that read its base before the
        # rollback would silently re-commit the rolled-back-over state
        # (same written-before-data rule as delete_urls).
        wh.append_lineage(out_dir, commit_id, [{
            "input_snapshot_id": commit_id, "bucket": b, "doc_count": 0,
            "chunk_count": 0, "failure_count": 0,
            "started_at": commit_ts, "finished_at": commit_ts}
            for b, _src, _hp, _cur in plan])
        log_rows = [{"commit_id": commit_id, "table": table, "bucket": b,
                     "had_prev": had_prev, "committed_at": commit_ts}
                    for b, _src, had_prev, _cur in plan]
        intent = _write_intent(out_dir, commit_id, log_rows)
        installed, removed = 0, 0
        for b, src, had_prev, cur in plan:
            if had_prev:
                os.makedirs(park, exist_ok=True)
                os.rename(cur, os.path.join(park, f"bucket={b}"))
            if src is not None:
                tmp = os.path.join(table_dir,
                                   f".rollback-{b}-{uuid.uuid4().hex[:8]}")
                shutil.copytree(src, tmp)
                os.rename(tmp, cur)
                installed += 1
            else:
                removed += 1
        if os.path.isdir(table_dir) and not any(
                e.startswith("bucket=") for e in os.listdir(table_dir)):
            # rollback-to-genesis: pin the schema of any displaced file
            schema = next((pq.read_schema(os.path.join(root, fn))
                           for root, _dirs, files in os.walk(park)
                           for fn in files if fn.endswith(".parquet")), None)
            if schema is not None:
                wh.pin_empty_bucket(table_dir, plan[0][0], schema)
        _finalize_intent(out_dir, intent, commit_id)
        return {"commit_id": commit_id, "buckets_installed": installed,
                "buckets_removed": removed, "buckets_changed": len(plan)}
