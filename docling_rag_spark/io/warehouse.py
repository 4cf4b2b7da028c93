"""Snapshot-committed parquet warehouse + per-partition lineage.

This environment ships no Iceberg runtime jar, so the Iceberg semantics the
design calls for (SURVEY.md §1.4) are provided by a thin, self-contained
layer over partitioned parquet:

  * **bucket partitioning**: every output table is laid out as
    ``<table>/bucket=<k>/part-*.parquet`` with ``k = pmod(xxhash64(url), N)``
    — the moral equivalent of Iceberg ``bucket(N, url)``;
  * **atomic bucket commit**: a batch is written to a staging directory by
    the Spark tasks themselves (``write_bucket_files``, one file per
    bucket per task and a manifest row per file) and moved
    bucket-directory-at-a-time with ``os.replace``-style renames, only the
    manifest's files installed — write-temp-then-atomic-commit (the
    reference's upload pattern, api/app.py:232-252, and an Iceberg
    snapshot commit in miniature);
  * **dynamic partition overwrite**: re-committing a bucket replaces its
    directory wholesale — the delete-then-insert idempotent-reindex contract
    (reference core/indexer.py:100-101, D1/S6);
  * **lineage**: a parquet TABLE (one file appended atomically per
    committed batch) recording, per bucket, ``(input_snapshot_id, bucket,
    doc_count, chunk_count, failure_count, started_at, finished_at)`` —
    the jobs-queue replacement (SURVEY.md §2.9). Resume = anti-join of all
    buckets against committed lineage rows (J3). Being a parquet table
    (not driver-local JSON) it is readable by any engine on the cluster —
    ``lineage_df`` is a plain ``spark.read.parquet`` — and maps 1:1 onto
    an Iceberg append-only metrics table.

On a real cluster each of these maps 1:1 onto Iceberg:
``bucket(N, url)`` partition spec, ``overwritePartitions()``, and a lineage
table appended with ``MERGE INTO``/append snapshots.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_ARROW_SCHEMA = pa.schema([
    ("input_snapshot_id", pa.string()),
    ("bucket", pa.int32()),
    ("doc_count", pa.int64()),
    ("chunk_count", pa.int64()),
    ("failure_count", pa.int64()),
    ("started_at", pa.float64()),
    ("finished_at", pa.float64()),
])


def bucket_dir(table_dir: str, bucket: int) -> str:
    return os.path.join(table_dir, f"bucket={bucket}")


def _holder_alive(token: bytes) -> bool:
    """Is the lock holder's pid still running? Lock files are local-disk
    (one warehouse = one machine's commit lock), so a dead pid means the
    holder crashed inside its critical section — the lock is stealable NOW
    instead of after ``stale_sec``, which matters most for READERS
    (``resolve_as_of`` repairs crashed commits under this lock; without
    the liveness check every time-travel read after a writer kill -9
    would block out the full stale window). Pid reuse or a malformed
    token degrades conservatively to the age-based rule."""
    try:
        pid = int(token.split(b"-", 1)[0])
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (ValueError, PermissionError, OSError):
        return True  # unparseable or not ours to signal: assume alive
    return True


class CommitConflict(RuntimeError):
    """Another writer committed a NEWER input snapshot for these buckets
    after this job read its base state — completing the stale commit would
    silently roll those buckets back (the last-write-wins hazard ADVICE r2
    flagged). The Iceberg analog: optimistic-concurrency commit validation
    failing because the table's current snapshot moved."""

    def __init__(self, buckets: list[int], snapshot_id: str):
        self.buckets = buckets
        super().__init__(
            f"buckets {buckets} were committed by a newer snapshot after "
            f"this job (snapshot {snapshot_id!r}) started; rerun to "
            "rebase on the current table state")


class commit_lock:
    """Filesystem mutex serializing the check-then-commit critical section
    across processes (Iceberg gets this from the catalog's atomic swap; a
    local FS needs an explicit lease). O_CREAT|O_EXCL acquisition with an
    owner token; a lock older than ``stale_sec`` is presumed abandoned
    (crashed writer) and stolen via atomic rename — the rename admits
    exactly ONE stealer (a plain unlink lets two waiters both 'steal' and
    both enter the critical section), and release only unlinks a lock this
    instance still owns (never a stolen-and-recreated successor's).

    Holders must keep the critical section SHORT (directory swaps, lineage
    appends) — long work (Spark writes) belongs outside the lock, staged,
    with only the swap inside; ``stale_sec`` backs that contract."""

    def __init__(self, out_dir: str, timeout: float = 30.0,
                 stale_sec: float = 600.0):
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, "_commit.lock")
        self.timeout = timeout
        self.stale_sec = stale_sec
        self.token = f"{os.getpid()}-{uuid.uuid4().hex}"

    def __enter__(self):
        deadline = time.time() + self.timeout
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, self.token.encode())
                os.fsync(fd)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    st = os.stat(self.path)
                    age = time.time() - st.st_mtime
                    with open(self.path, "rb") as f:
                        seen_token = f.read()
                except FileNotFoundError:
                    continue  # released between the failed open and stat
                if age > self.stale_sec or not _holder_alive(seen_token):
                    # atomic steal: only one waiter wins the rename; the
                    # loser's rename raises and it simply retries. Verify
                    # the renamed file IS the stale lock we statted — the
                    # holder may have released and a fresh writer acquired
                    # between stat and rename; in that case hand it back.
                    stale = self.path + f".stale-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(self.path, stale)
                    except FileNotFoundError:
                        continue
                    try:
                        with open(stale, "rb") as f:
                            renamed_token = f.read()
                    except FileNotFoundError:
                        continue
                    if renamed_token != seen_token:
                        # fresh holder's lock: restore it (if the slot is
                        # already re-taken, the fresh holder lost it to a
                        # third writer's O_EXCL — irrecoverable without a
                        # server; window is stat->rename, microseconds)
                        try:
                            os.rename(stale, self.path)
                        except OSError:
                            os.unlink(stale)
                        continue
                    os.unlink(stale)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"commit lock {self.path} held for {age:.0f}s")
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            with open(self.path, "rb") as f:
                if f.read().decode(errors="replace") != self.token:
                    return  # stolen while we held it: successor owns it now
            os.unlink(self.path)
        except FileNotFoundError:
            pass


def compaction_lock(out_dir: str, timeout: float) -> commit_lock:
    """The warehouse's compaction lock (``<out>/_compaction``): held for
    a whole rebucket and around every swap of the ANN index dir (see
    ``plans/ann_index.index_lock``). Its holders run long Spark work, so
    an abandoned lock is only stolen after an hour."""
    return commit_lock(os.path.join(out_dir, "_compaction"),
                       timeout=timeout, stale_sec=3600.0)


def _swap_old_dir(final_dir: str) -> str:
    """Parking name for the displaced dir during a swap: DOT-prefixed so a
    crash never leaves a sibling that Spark partition discovery would
    treat as live data: Spark skips ``.``- and ``_``-prefixed names when
    it lists a dir, so a scan of the parent never reads the displaced copy
    (``ann/.pq.old``, not ``ann/pq.old``)."""
    head, tail = os.path.split(final_dir)
    return os.path.join(head, f".{tail}.old")


def recover_swap(final_dir: str) -> None:
    """Crash recovery for ``swap_dir``: a crash between the two renames
    leaves ``final`` missing and the hidden old dir holding the only copy —
    restore it. MUST be called before reading or re-swapping a
    swap-managed directory; without it the next writer's rmtree of the
    stale old dir would destroy the sole surviving data."""
    old = _swap_old_dir(final_dir)
    if not os.path.isdir(final_dir) and os.path.isdir(old):
        try:
            os.rename(old, final_dir)
        except OSError:
            # a concurrent writer re-created final between the check and
            # the rename — its copy wins; nothing left to recover
            pass


def swap_dir(tmp_dir: str, final_dir: str) -> None:
    """Replace ``final_dir`` with ``tmp_dir`` via the recoverable
    two-rename protocol (pair with ``recover_swap``)."""
    recover_swap(final_dir)
    old = _swap_old_dir(final_dir)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(final_dir):
        os.rename(final_dir, old)
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    os.rename(tmp_dir, final_dir)
    shutil.rmtree(old, ignore_errors=True)


def conflicting_buckets(out_dir: str, snapshot_id: str, buckets: list[int],
                        base_ts: float) -> list[int]:
    """Buckets a DIFFERENT input snapshot committed after ``base_ts`` (the
    moment this job read its base state). A concurrent committer of the
    SAME snapshot is benign — idempotent duplicate work writing identical
    content — so it does not conflict."""
    want = set(buckets)
    return sorted({
        r["bucket"] for r in read_lineage(out_dir)
        if r["bucket"] in want
        and r["input_snapshot_id"] != snapshot_id
        and r["finished_at"] >= base_ts})


def commit_buckets(staging_table_dir: str, final_table_dir: str,
                   buckets: list[int], files: dict[int, set[str]],
                   retain_to: str | None = None) -> list[tuple[int, bool]]:
    """Move staged bucket directories into the table, replacing old ones.
    Only the staged files ``files`` lists for a bucket (its writer's
    manifest, see ``manifest_files``) are installed: any other file in
    the staged dir, e.g. a failed task attempt's, is removed first.

    Replaced dirs are parked under a DOT-prefixed name before deletion:
    Spark/Hadoop file listing ignores hidden paths, so a crash between the
    rename and the rmtree leaves invisible trash instead of a
    ``bucket=<k>.old-*`` sibling that partition discovery would parse as a
    live (string-typed!) partition and resurrect the replaced rows.

    ``retain_to``: park displaced dirs under this directory instead of
    deleting them — snapshot retention (io/snapshots.py): a metadata-only
    rename preserving the previous version for time travel / rollback.
    Returns ``(bucket, had_prev)`` per bucket actually installed, the rows
    the caller logs via ``snapshots.log_append``."""
    os.makedirs(final_table_dir, exist_ok=True)
    for e in os.listdir(final_table_dir):
        if e.startswith(".") and ".old-" in e:  # crashed prior commit
            shutil.rmtree(os.path.join(final_table_dir, e),
                          ignore_errors=True)
    installed: list[tuple[int, bool]] = []
    for b in buckets:
        src = bucket_dir(staging_table_dir, b)
        dst = bucket_dir(final_table_dir, b)
        if not os.path.isdir(src):
            continue  # bucket had no rows in this batch
        for f in os.listdir(src):
            if f not in files.get(b, ()):
                os.unlink(os.path.join(src, f))
        had_prev = os.path.isdir(dst)
        if had_prev:
            if retain_to is not None:
                os.makedirs(retain_to, exist_ok=True)
                os.rename(dst, os.path.join(retain_to, f"bucket={b}"))
            else:
                old = os.path.join(final_table_dir,
                                   f".bucket={b}.old-{uuid.uuid4().hex[:8]}")
                os.rename(dst, old)
                shutil.rmtree(old, ignore_errors=True)
        os.rename(src, dst)
        installed.append((b, had_prev))
    return installed


def read_buckets(spark, out_dir: str, table: str, buckets: list[int]):
    """Committed rows of ``buckets`` (with the ``bucket`` partition
    column), or None when none of their dirs exist yet. Schema-pinned when
    the warehouse pins one: the selected buckets can span code-version
    eras, and footer inference over a mixed set silently drops columns the
    sampled footer lacks."""
    table_dir = os.path.join(out_dir, table)
    dirs = [bucket_dir(table_dir, b) for b in buckets]
    dirs = [d for d in dirs if os.path.isdir(d)]
    if not dirs:
        return None
    reader = spark.read.option("basePath", table_dir)
    pinned = pinned_table_schema(out_dir, table)
    if pinned is not None:
        reader = reader.schema(pinned)
    return reader.parquet(*dirs)


def _data_files(d: str) -> list[str]:
    """Files under ``d`` as a Spark scan lists them: ``.``- and
    ``_``-prefixed names (hidden files, parked dirs) are skipped."""
    out = []
    for e in sorted(os.listdir(d)):
        if e.startswith((".", "_")):
            continue
        p = os.path.join(d, e)
        out.extend(_data_files(p) if os.path.isdir(p) else [p])
    return out


def bucket_files(out_dir: str, table: str,
                 buckets: list[int] | None) -> list[str]:
    """The committed data files of ``table``'s ``buckets`` (the whole
    table when None); missing dirs hold none."""
    table_dir = os.path.join(out_dir, table)
    dirs = [table_dir] if buckets is None else \
        [bucket_dir(table_dir, b) for b in buckets]
    return [f for d in dirs if os.path.isdir(d) for f in _data_files(d)]


def lookup_rows(out_dir: str, table: str, buckets: list[int] | None,
                columns: list[str], keys: dict[str, list]) -> list[dict]:
    """Driver-side point lookup, no Spark job: the rows of ``buckets``
    (the whole table when None) whose every ``keys`` column holds one of
    its listed values, read with pyarrow. Bucket files are sorted by the
    table's key and carry min/max statistics, so the filter skips row
    groups. Schema-pinned like ``read_table``: a file that lacks a pinned
    column reads it as null."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    files = bucket_files(out_dir, table, buckets)
    if not files:
        return []
    pinned = pinned_table_schema(out_dir, table)
    schema = None
    if pinned is not None:
        full = to_arrow_schema(pinned)
        schema = pa.schema([full.field(c) for c in columns])
    where = None
    for col, values in keys.items():
        e = ds.field(col).isin(values)
        where = e if where is None else where & e
    return (ds.dataset(files, schema=schema, format="parquet")
            .to_table(columns=columns, filter=where).to_pylist())


def route_buckets(df, buckets: list[int], partitions: int):
    """``df`` (rows of ``buckets`` only, ``bucket`` and ``url`` columns
    included) in ``partitions`` shuffle partitions: the routing every
    bucket-aligned write shares.

    With at least ``partitions`` buckets, each bucket lands whole in one
    partition, ``buckets[i]`` in partition ``i mod partitions``, so no
    task holds more than ceil(n/partitions) buckets and the staged write
    (``write_bucket_files``) emits one file per bucket.
    ``repartitionById`` takes the partition id as a column: no sampling
    job (range partitioning scans the input once more per call) and no
    hash scatter (which leaves ~1/e of the slots empty and stacks 3-4
    buckets on others: stragglers). With fewer buckets than partitions,
    a salted secondary key splits buckets across tasks, a few files per
    bucket, instead of capping parallelism at ``len(buckets)``."""
    from pyspark.sql import functions as F

    if len(buckets) < partitions:
        return df.repartition(partitions, F.col("bucket"),
                              F.xxhash64("url", F.lit(0x5A17)))
    slots = [0] * (max(buckets) + 1)
    for i, b in enumerate(buckets):
        slots[b] = i % partitions
    return df.repartitionById(
        partitions, F.element_at(F.lit(slots), F.col("bucket") + 1))


# --- the task-side bucket writer ---------------------------------------------
#
# Staged bucket files are written by pyarrow inside the Spark task that
# computed their rows, not by Spark's Hadoop writer: no separate write job,
# no ``.crc`` sidecars, and no ``chmod`` fork per file, sidecar and dir
# (Hadoop's local file system without libhadoop). The files read like
# Spark's: INT96 timestamps, zstd level 3, no Arrow schema in the footer,
# every column optional, min/max statistics on every column. The task
# returns a manifest row per file and the commit installs only listed
# files; names carry the partition and task attempt ids, so a failed or
# speculative attempt's file never reaches a table.

_PARQUET_OPTS = {"compression": "zstd", "compression_level": 3,
                 "use_deprecated_int96_timestamps": True,
                 "store_schema": False}
# rows are buffered per file and written as one row group once they reach
# parquet-mr's default block size: a bucket file holds one row group, as
# Spark's does
ROW_GROUP_BYTES = 128 << 20

MANIFEST_ARROW_SCHEMA = pa.schema([
    ("table", pa.string()), ("bucket", pa.int32()), ("file", pa.string()),
    ("rows", pa.int64()), ("failures", pa.int64())])
MANIFEST_DDL = "table string, bucket int, file string, rows long, failures long"


def _optional(t: pa.DataType) -> pa.DataType:
    """``t`` with every nested field nullable (Spark writes all optional)."""
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _optional(f.type)) for f in t])
    if pa.types.is_list(t):
        return pa.list_(_optional(t.value_type))
    return t


class _BucketFile:
    """One staged parquet file: rows buffered, sorted by the table's key
    (stable: duplicate keys keep their arrival order) and written as a
    row group once they reach ``ROW_GROUP_BYTES``."""

    def __init__(self, path: str, schema: pa.Schema, keys):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.schema = pa.schema([pa.field(f.name, _optional(f.type))
                                 for f in schema])
        self.writer = pq.ParquetWriter(path, self.schema, **_PARQUET_OPTS)
        self.sort = [(k, "ascending") for k in keys]
        self.pending, self.rows, self.failures = [], 0, 0

    def add(self, rows: pa.Table, failures: int) -> None:
        self.pending.append(rows)
        self.rows += rows.num_rows
        self.failures += failures
        if sum(t.nbytes for t in self.pending) >= ROW_GROUP_BYTES:
            self.flush()

    def flush(self) -> None:
        if self.pending:
            self.writer.write_table(pa.concat_tables(self.pending)
                                    .cast(self.schema).sort_by(self.sort))
            self.pending = []

    def close(self) -> None:
        self.flush()
        self.writer.close()


def bucket_slices(batches):
    """``(bucket, rows)`` runs of a stream of Arrow batches sorted by
    ``bucket``, the column dropped: a file's bucket is its dir."""
    import numpy as np

    for rb in batches:
        if not rb.num_rows:
            continue
        b = rb.column("bucket").to_numpy()
        rows = pa.Table.from_batches([rb.drop_columns(["bucket"])])
        cuts = [0, *(np.flatnonzero(b[1:] != b[:-1]) + 1), len(b)]
        for s, e in zip(cuts, cuts[1:]):
            yield int(b[s]), rows.slice(s, e - s)


def write_bucket_files(slices, dirs: dict[str, str]):
    """Write one task's staged tables. ``slices`` yields ``(bucket, table,
    rows, failures)`` in bucket order; ``dirs`` maps each table to its
    staging dir. One file per (table, bucket) of the task, closed when the
    next bucket starts. Yields the manifest as an Arrow batch of
    ``(table, bucket, file, rows, failures)`` rows (``mapInArrow`` output;
    runs on the executor)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.zstd.parquet"
    manifest, files, cur = [], {}, None

    def close_bucket():
        for table, f in files.items():
            f.close()
            manifest.append({"table": table, "bucket": cur, "file": name,
                             "rows": f.rows, "failures": f.failures})
        files.clear()

    try:
        for b, table, rows, failures in slices:
            if not rows.num_rows:
                continue  # a table without rows in a bucket has no file
            if b != cur:
                close_bucket()
                cur = b
            if table not in files:
                files[table] = _BucketFile(
                    os.path.join(bucket_dir(dirs[table], b), name),
                    rows.schema, TABLE_KEYS.get(table, ("url",)))
            files[table].add(rows, failures)
    finally:
        close_bucket()  # a failed task's files are closed but unlisted
    if manifest:
        yield pa.RecordBatch.from_pylist(manifest,
                                         schema=MANIFEST_ARROW_SCHEMA)


def manifest_files(manifest: list[dict], table: str) -> dict[int, set[str]]:
    """bucket -> the staged file names of ``table`` the manifest lists."""
    files: dict[int, set[str]] = {}
    for r in manifest:
        if r["table"] == table:
            files.setdefault(r["bucket"], set()).add(r["file"])
    return files


def pin_empty_bucket(table_dir: str, bucket: int, schema: pa.Schema) -> str:
    """Pin a table's schema with one zero-row parquet file (what an
    Iceberg table keeps in metadata): a table of only file-less bucket
    dirs fails schema inference on every later read. Returns its name."""
    name = "part-00000-empty.parquet"
    _BucketFile(os.path.join(bucket_dir(table_dir, bucket), name), schema,
                ()).close()
    return name


def stage_buckets(df, staging_table_dir: str, table: str,
                  buckets: list[int]) -> list[dict]:
    """Stage the new content of ``buckets`` for ``snapshots.commit_rewrite``
    and return its manifest (``write_bucket_files`` rows). ``df`` holds
    exactly those buckets' rows, ``bucket`` column included.

    One task per bucket (``route_buckets``), each file sorted by the
    table's natural key, so each bucket lands as one url-sorted file:
    parquet min/max stats on url stay tight and disjoint, and point
    lookups and later rewrites prune row groups. A bucket that lost every
    row gets an empty dir, so the commit still replaces its old one; when
    no row survives at all, a zero-row file pins the schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    shutil.rmtree(staging_table_dir, ignore_errors=True)
    dirs = {table: staging_table_dir}

    def write(batches):
        return write_bucket_files(
            ((b, table, rows, 0) for b, rows in bucket_slices(batches)),
            dirs)

    # an empty upsert stages nothing: one task writes no file. The writer
    # sorts each file by the table's key; Spark only groups the buckets.
    manifest = [r.asDict() for r in
                route_buckets(df, buckets, max(len(buckets), 1))
                .sortWithinPartitions("bucket")
                .mapInArrow(write, MANIFEST_DDL).collect()]
    for b in buckets:
        os.makedirs(bucket_dir(staging_table_dir, b), exist_ok=True)
    if not manifest and buckets:
        manifest.append({
            "table": table, "bucket": buckets[0], "rows": 0, "failures": 0,
            "file": pin_empty_bucket(
                staging_table_dir, buckets[0],
                to_arrow_schema(df.drop("bucket").schema))})
    return manifest


def lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def append_parquet_atomic(d: str, schema: pa.Schema, rows: list[dict],
                          name: str) -> str:
    """Append one fsync'd parquet file to an append-only metadata table
    (tmp write + fsync + rename — the durable-record protocol lineage and
    the snapshot commit log share)."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, "." + name + ".tmp")
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    with open(tmp, "wb") as f:
        pq.write_table(pa.table(cols, schema=schema), f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(d, name)
    os.rename(tmp, final)
    return final


def read_parquet_dir(d: str, label: str = "metadata") -> list[dict]:
    """Driver-side read of an append-only parquet metadata table. A torn
    file (pre-fsync crash) is skipped with a warning rather than wedging
    every future reader."""
    if not os.path.isdir(d):
        return []
    rows: list[dict] = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".parquet") and not fn.startswith("."):
            try:
                rows.extend(pq.read_table(os.path.join(d, fn)).to_pylist())
            except pa.ArrowInvalid as exc:
                import warnings
                warnings.warn(f"skipping unreadable {label} file {fn}: {exc}")
    return rows


def append_lineage(out_dir: str, snapshot_id: str, rows: list[dict]) -> str:
    """Atomically append one parquet file to the lineage table."""
    return append_parquet_atomic(
        lineage_dir(out_dir), LINEAGE_ARROW_SCHEMA, rows,
        f"{snapshot_id}-{uuid.uuid4().hex[:12]}.parquet")


def read_lineage(out_dir: str) -> list[dict]:
    """Driver-side lineage read (resume planning happens before any Spark
    job runs, so this stays a direct parquet read, not a Spark query)."""
    return read_parquet_dir(lineage_dir(out_dir), "lineage")


def completed_buckets(out_dir: str, snapshot_id: str) -> set[int]:
    return {r["bucket"] for r in read_lineage(out_dir)
            if r["input_snapshot_id"] == snapshot_id}


def lineage_df(spark, out_dir: str):
    """Lineage as a DataFrame — a plain parquet table scan (metrics
    queries / the J3 anti-join read it like any other warehouse table)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("input_snapshot_id", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("doc_count", T.LongType(), True),
        T.StructField("chunk_count", T.LongType(), True),
        T.StructField("failure_count", T.LongType(), True),
        T.StructField("started_at", T.DoubleType(), True),
        T.StructField("finished_at", T.DoubleType(), True),
    ])
    d = lineage_dir(out_dir)
    return spark.read.schema(schema).parquet(d) if os.path.isdir(d) \
        else spark.createDataFrame([], schema)


def now() -> float:
    return time.time()


# ---------------------------------------------------------------------------
# Pinned table schema — Iceberg-style schema evolution (add-column)
# ---------------------------------------------------------------------------
#
# Copy-on-write at bucket granularity means an incremental MERGE run with a
# NEWER code version rewrites only the buckets that received changed urls:
# the table ends up with parquet files of two schema eras side by side.
# A plain ``spark.read.parquet`` then either silently DROPS the new column
# (footer sampling missed it) or the merge union fails outright. Iceberg
# solves this by making the schema a property of table METADATA, not of the
# data files; this layer does the same with one JSON document per table,
# evolved union-by-name at every commit. Reads resolve the schema in O(1)
# (no ``mergeSchema`` footer scan over millions of files — the difference
# between an instant plan and a cluster-wide metadata storm at 10^12 docs);
# files missing a pinned column read as null, exactly Iceberg's add-column
# semantics. A name reused with a different type is a contract break and is
# rejected at commit time (``SchemaEvolutionError``), never discovered by a
# reader.


class SchemaEvolutionError(RuntimeError):
    """A staged write reuses an existing column name with a different data
    type. Parquet files of both eras would coexist in one table with no
    single schema able to describe them — reject at commit time."""


def schema_path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, "_schema", f"{table}.json")


def merge_table_schemas(old, new):
    """Union-by-name of two Spark ``StructType``s: pinned fields keep their
    position (readers see a stable column order), genuinely new fields
    append, and a field the new writer no longer emits is RETAINED (it
    still exists in committed files; dropping it is an explicit DDL-like
    act, not a side effect of one writer's version). Type changes raise."""
    from pyspark.sql import types as T

    by_name = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        g = by_name.pop(f.name, None)
        if g is not None and g.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r}: pinned type {f.dataType.simpleString()} "
                f"!= staged type {g.dataType.simpleString()}")
        fields.append(f)
    fields.extend(f for f in new.fields if f.name in by_name)
    return T.StructType(fields)


def pinned_table_schema(out_dir: str, table: str):
    """The table's pinned ``StructType``, or None for a warehouse written
    before schema pinning existed (reads fall back to footer inference)."""
    import json

    from pyspark.sql import types as T

    p = schema_path(out_dir, table)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return T.StructType.fromJson(json.load(f))


def _dropped_columns_path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, "_schema", f"{table}.dropped.json")


def dropped_columns(out_dir: str, table: str) -> list[str]:
    """Tombstoned column names of ``table`` (see ``drop_table_column``)."""
    import json

    p = _dropped_columns_path(out_dir, table)
    if not os.path.isfile(p):
        return []
    with open(p) as f:
        return json.load(f)


def _write_json_atomic(p: str, payload) -> None:
    import json

    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, p)


def pin_table_schema(out_dir: str, table: str, schema) -> None:
    """Evolve and persist the table's pinned schema (call INSIDE the commit
    lock, BEFORE the bucket renames — a reader must never see data files
    the pinned schema cannot describe). Atomic tmp+fsync+rename, the same
    durability contract as lineage."""
    tombs = set(dropped_columns(out_dir, table))
    ghosts = tombs & {f.name for f in schema.fields}
    if ghosts:
        # Name-based column resolution (vs Iceberg's field IDs) means a
        # re-added name would silently RESURRECT the dropped column's old
        # values from pre-drop data files. Reject with the remedy.
        raise SchemaEvolutionError(
            f"column(s) {sorted(ghosts)} were dropped from table "
            f"{table!r}; re-adding the same name would resurrect old file "
            "data under name-based mapping — use a new column name")
    old = pinned_table_schema(out_dir, table)
    merged = merge_table_schemas(old, schema) if old is not None else schema
    if old is not None and merged.jsonValue() == old.jsonValue():
        return  # unchanged: no metadata churn on the common path
    _write_json_atomic(schema_path(out_dir, table), merged.jsonValue())


class BucketSpecMismatch(RuntimeError):
    """A caller passed a ``num_buckets`` different from the modulus this
    warehouse was laid out with. Writing at the wrong modulus scatters a
    url's rows across buckets — resume, delete pruning, and merge change
    detection all silently miss them. The modulus is the table's partition
    SPEC, recorded in warehouse metadata; change it with
    ``rebucket_warehouse`` (Iceberg partition-spec evolution), not by
    passing a different number."""


def _warehouse_props_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_schema", "_warehouse.json")


def _warehouse_props(out_dir: str) -> dict:
    import json

    p = _warehouse_props_path(out_dir)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def warehouse_num_buckets(out_dir: str) -> int | None:
    """The pinned url-hash modulus, or None for a warehouse written before
    spec pinning existed."""
    return _warehouse_props(out_dir).get("num_buckets")


def rebucket_in_progress(out_dir: str) -> int | None:
    """Target modulus of a rebucket that started (and possibly crashed)
    without completing, or None. Set by ``rebucket_warehouse`` BEFORE any
    table rewrite and cleared by its final spec pin, so a crash anywhere
    between leaves the marker for writers to trip over."""
    return _warehouse_props(out_dir).get("rebucket_to")


def mark_rebucket(out_dir: str, current: int | None, target: int) -> None:
    _write_json_atomic(_warehouse_props_path(out_dir),
                       {"num_buckets": current, "rebucket_to": target})


def _max_bucket_dir_id(out_dir: str) -> int | None:
    """Highest ``bucket=<k>`` id across the warehouse's table dirs, or
    None when no bucketed table exists yet (fresh warehouse)."""
    best = None
    if not os.path.isdir(out_dir):
        return None
    for t in os.listdir(out_dir):
        if t.startswith((".", "_")):
            continue
        td = os.path.join(out_dir, t)
        if not os.path.isdir(td):
            continue
        for e in os.listdir(td):
            if e.startswith("bucket="):
                try:
                    b = int(e.split("=", 1)[1])
                except ValueError:
                    continue
                best = b if best is None else max(best, b)
    return best


def resolve_num_buckets(out_dir: str, requested: int | None,
                        default: int | None = None) -> int:
    """One resolution rule for every writing job: an omitted modulus comes
    from the warehouse spec, an explicit one is VALIDATED against it — the
    silent-mismatch footgun dies here, not in a reader's plan.

    A LEGACY warehouse (bucketed data, no pinned spec) REFUSES the
    default: silently assuming 64 over a layout built at another modulus
    would scatter every url across two buckets and then pin the wrong
    spec. The operator passes the layout's true modulus once; it is
    layout-validated (``pin_num_buckets``) and pinned at the next commit.
    """
    from docling_rag_spark.config import DEFAULT_NUM_BUCKETS

    target = rebucket_in_progress(out_dir)
    if target is not None:
        raise BucketSpecMismatch(
            f"a rebucket to {target} started but did not complete; rerun "
            f"`snapshots_cli.py rebucket --to {target}` before writing "
            "(the table may hold a mix of both layouts until then)")
    pinned = warehouse_num_buckets(out_dir)
    if requested is None:
        if pinned is not None:
            return pinned
        if _max_bucket_dir_id(out_dir) is not None:
            raise BucketSpecMismatch(
                "this warehouse has bucketed data but no pinned spec "
                "(written by an older version); pass num_buckets matching "
                "its layout explicitly — it will be validated and pinned")
        return default or DEFAULT_NUM_BUCKETS
    if pinned is not None and requested != pinned:
        raise BucketSpecMismatch(
            f"num_buckets={requested} but this warehouse is laid out at "
            f"{pinned}; use rebucket_warehouse to change the spec")
    return requested


def pin_num_buckets(out_dir: str, n: int, *, allow_change: bool = False
                    ) -> None:
    """Record the warehouse's bucket modulus (call inside the commit
    lock). Idempotent at the same value; a different value raises unless
    ``allow_change`` (only ``rebucket_warehouse`` passes it, which is
    also how a completed rebucket clears its in-progress marker). A first
    pin is validated against the physical layout: a bucket dir id >= n
    proves the data was laid out at a larger modulus."""
    cur = warehouse_num_buckets(out_dir)
    if cur == n and rebucket_in_progress(out_dir) is None:
        return
    if cur is not None and cur != n and not allow_change:
        raise BucketSpecMismatch(
            f"cannot re-pin num_buckets {cur} -> {n}; use "
            "rebucket_warehouse")
    if cur is None:
        top = _max_bucket_dir_id(out_dir)
        if top is not None and top >= n:
            raise BucketSpecMismatch(
                f"cannot pin num_buckets={n}: bucket dirs up to id {top} "
                "exist, so the layout modulus is larger")
    _write_json_atomic(_warehouse_props_path(out_dir), {"num_buckets": n})


_PROTECTED_COLUMNS = ("url", "bucket")

# natural row keys per bucketed table (also the rebucket dedup keys and
# the sorted-layout sort keys): identity columns, not droppable
TABLE_KEYS = {
    "chunks": ("url", "chunk_id"),
    "extracted": ("url",),
    "registry": ("url",),
    "embeddings": ("url", "chunk_id"),
}


def drop_table_column(out_dir: str, table: str, col: str) -> None:
    """Iceberg ``ALTER TABLE ... DROP COLUMN``: metadata-only — the pinned
    schema stops projecting the column instantly across every reader, data
    files keep their bytes until buckets are naturally rewritten (exactly
    Iceberg's lazy physical deletion). The name is tombstoned so a later
    writer cannot re-add it and resurrect pre-drop values (name-based
    mapping has no field IDs to disambiguate eras). Takes the commit lock:
    a drop racing a commit must not interleave with its pin."""
    from pyspark.sql import types as T

    with commit_lock(out_dir):
        s = pinned_table_schema(out_dir, table)
        if s is None:
            raise SchemaEvolutionError(
                f"table {table!r} has no pinned schema; drop applies to "
                "schema metadata, which this warehouse predates")
        if col in _PROTECTED_COLUMNS or col in TABLE_KEYS.get(table, ()):
            raise SchemaEvolutionError(
                f"column {col!r} is the table's identity/partition key "
                "and cannot be dropped")
        names = [f.name for f in s.fields]
        if col not in names:
            raise SchemaEvolutionError(
                f"table {table!r} has no column {col!r} "
                f"(columns: {names})")
        _write_json_atomic(
            schema_path(out_dir, table),
            T.StructType([f for f in s.fields if f.name != col])
            .jsonValue())
        _write_json_atomic(_dropped_columns_path(out_dir, table),
                           sorted(set(dropped_columns(out_dir, table))
                                  | {col}))


def read_sf_table(spark, sf_dir: str, name: str):
    """One ``<sf_dir>/<name>.parquet`` table of a scale-factor dataset —
    the flat layout every named query reads."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_table(spark, out_dir: str, table: str):
    """Schema-pinned whole-table read: every committed column is present
    regardless of which bucket era a file was written in (files predating
    an added column yield null for it). Falls back to footer inference on
    a warehouse with no pinned schema."""
    d = os.path.join(out_dir, table)
    s = pinned_table_schema(out_dir, table)
    return spark.read.schema(s).parquet(d) if s is not None \
        else spark.read.parquet(d)
