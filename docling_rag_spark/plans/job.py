"""The batch extraction job: pages -> chunks/extracted tables + lineage.

Replaces the reference's sequential indexing loop + postgres job queue
(core/indexer.py:41-117, worker/runner.py:97-119) with:

  scan pages (declared contract schema, no footer-inference job)
             -> assign bucket = pmod(xxhash64(url), N)
             -> anti-join buckets against committed lineage (resume, J3)
             -> per bucket-batch: whole buckets routed into
                salt_partitions tasks (warehouse.route_buckets), each
                task's pages sorted by (bucket, url)
                -> one mapInArrow task parses and chunks each bucket's
                pages and writes its extracted / chunks files straight
                into the batch's staging dir, returning a manifest row
                per file (operators/pipeline.stage_documents)
             -> atomic bucket-directory commit of the listed files +
                lineage append, counts from the manifest

The driver plans only what depends on the run: the pages schema and the
staged tables' schemas are constants (operators/pipeline.PAGES_SCHEMA,
STAGED_SCHEMAS), so a one-batch overwrite runs two Spark jobs, the
routing exchange and the parse-and-stage task set.

Unit of checkpointing = url-hash bucket (not file): a rerun after a crash
reprocesses only buckets without a committed lineage row for the input
snapshot id. Row-level failures never abort the job — they surface as
``status='error'`` rows counted in ``failure_count`` (the reference's
fail-soft tier, core/indexer.py:114-116); infrastructure failures abort the
Spark task and are retried by the scheduler (fail-hard tier).

At 100 TB: the input would be an Iceberg table bucketed by url so each batch
prunes to its buckets at scan time; here the pages parquet is re-scanned per
batch (cheap relative to parse) with the bucket filter applied before the
expensive UDF stage.
"""

from __future__ import annotations

import os
import shutil
import struct
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_rag_spark.config import (
    CHUNK_MAX_TOKENS,
    DEFAULT_NUM_BUCKETS,
    DEFAULT_SALT_PARTITIONS,
)
from docling_rag_spark.io import snapshots as snap
from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.operators.pipeline import (
    PAGES_SCHEMA,
    STAGED_SCHEMAS,
    stage_documents,
)
from docling_rag_spark.plans import ann_index as AI
from docling_rag_spark.session import job_description


@dataclass
class ExtractionReport:
    """Job-level counters (the reference's IndexReport, core/indexer.py:32-38)."""
    snapshot_id: str
    buckets_total: int
    buckets_skipped: int
    buckets_done: int
    doc_count: int = 0
    chunk_count: int = 0
    failure_count: int = 0
    docs_unchanged: int = 0
    batches: list[list[int]] = field(default_factory=list)
    # per-phase wall seconds (udf_stage: parse, chunk and stage; commit),
    # summed across batches: where to look for Amdahl tails
    phase_sec: dict = field(default_factory=dict)


def bucket_of(url_col, num_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(num_buckets)).cast("int")


# XXH64 primes; ``url_buckets`` is ``bucket_of`` on the driver
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64(s)`` in Python: XXH64 over the UTF-8 bytes, read
    in little-endian 8-, then 4-, then 1-byte steps (Spark's
    ``XXH64.hashUnsafeBytes``), as a signed 64-bit int."""
    b = s.encode("utf-8")
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(a, x)
                 for a, x in zip(v, struct.unpack_from("<4Q", b, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", b, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", b, i)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for c in b[i:]:
        h = _rotl(h ^ (c * _P5 & _M64), 11) * _P1 & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def url_buckets(urls, num_buckets: int) -> list[int]:
    """The sorted distinct ``bucket_of`` values of ``urls``, hashed on the
    driver: a handful of keys needs no Spark job. Python's ``%`` of a
    signed int by a positive modulus is Spark's ``pmod``."""
    return sorted({xxhash64(u) % num_buckets for u in urls})


def _input_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _first_input_file(path: str) -> str | None:
    """One data file of a local parquet input, skipping the hidden
    (``_``/``.``-prefixed) files and dirs Spark skips; None when there is
    none or the path is not local."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        for f in sorted(files):
            if f[0] not in "_.":
                return os.path.join(root, f)
    return None


def _read_pages(spark, pages_path: str) -> DataFrame:
    """The pages table, read with the declared contract ``PAGES_SCHEMA``:
    no footer-inference job, and an ``html`` column stored as string reads
    as the bytes the parse expects. A declared schema reads a column the
    files lack as null, so the footer of one local file is checked first,
    on the driver (pyarrow, no Spark job): an input without a contract
    column fails here, before any task runs. An input with no local file
    (a remote store) is checked by Spark's footer inference."""
    from pyspark.errors import AnalysisException

    first = _first_input_file(pages_path)
    if first is None:
        with job_description(spark, "extract:parse"):
            have = set(spark.read.parquet(pages_path).columns)
    else:
        have = set(pq.read_schema(first).names)
    missing = [c for c in PAGES_SCHEMA.names if c not in have]
    if missing:
        raise AnalysisException(
            message=f"pages input {pages_path} lacks column(s) {missing} "
                    f"of the contract {PAGES_SCHEMA.simpleString()}")
    return spark.read.schema(PAGES_SCHEMA).parquet(pages_path)


def _scan_split_bytes(spark, pages_path: str) -> str | None:
    """Adaptive scan-split size for this job's input.

    Spark packs files into ~``spark.sql.files.maxPartitionBytes`` splits at
    plan time; with the session default (32 MB) a bench-scale input (e.g.
    48 MB of 100k pages) scans on TWO map tasks no matter how many cores the
    cluster has — the scan and its shuffle write both inherit the cap,
    which measured as the scaling-efficiency killer between N and 4N
    executors (BASELINE.md). Target ~3 splits per core, clamped to
    [1 MB, 32 MB]: at petabyte scale the clamp returns the session default
    (splits stay row-group-sized), at bench scale every core gets work.
    Returns the previous setting (to restore) or None on opaque inputs.
    """
    total = _input_bytes(pages_path)
    if not total:
        return None
    cores = spark.sparkContext.defaultParallelism
    tgt = max(1 << 20, min(32 << 20, total // (3 * cores) or 1))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(tgt))
    return prev


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    snapshot_id: str = "snap-0",
    num_buckets: int | None = None,
    buckets_per_batch: int | None = None,
    max_tokens: int = CHUNK_MAX_TOKENS,
    salt_partitions: int = DEFAULT_SALT_PARTITIONS,
    mode: str = "overwrite",
    retain_snapshots: bool = False,
    _fail_after_batches: int | None = None,
) -> ExtractionReport:
    """Run (or resume) the extraction job. Idempotent per snapshot_id.

    ``mode="overwrite"`` (default) replaces each bucket with this
    snapshot's extraction — the full-reindex semantics of the reference's
    indexing loop (core/indexer.py:66-116).

    ``mode="merge"`` is the incremental-crawl path (Iceberg
    ``MERGE INTO`` on the natural key, the upsert shape of the
    reference's registry MERGE, db_registry.py:31-45): only pages that
    are NEW or STRICTLY NEWER (``warc_ts``) than their committed
    extraction are parsed; each touched bucket is rewritten as
    (existing rows minus re-extracted urls) ∪ (new rows) — copy-on-write
    at bucket granularity, so rewrite amplification is bounded by
    ``buckets_per_batch`` and untouched buckets are never opened. A
    re-crawl that fails to parse still replaces the old row (latest
    attempt is truth; the error tier is queryable). Change detection
    runs on narrow ``(url, warc_ts)`` column scans — page html bytes
    are never shuffled for unchanged urls. At Iceberg scale both sides
    of the url join are bucketed by url-hash, making it a
    storage-partitioned join with no shuffle at all.

    ``retain_snapshots=True`` parks every displaced bucket directory under
    ``<out>/_snapshots`` and appends a commit-log row per bucket
    (io/snapshots.py) — enabling ``read_table_as_of`` time travel,
    ``rollback_table``, and ``expire_snapshots``, the Iceberg snapshot
    facilities the default destructive overwrite forgoes.
    """
    if mode not in ("overwrite", "merge"):
        raise ValueError(f"mode must be 'overwrite' or 'merge', got {mode!r}")
    # num_buckets is the warehouse's partition SPEC, not a per-run knob:
    # omitted -> the pinned spec (DEFAULT_NUM_BUCKETS on a fresh
    # warehouse); explicit -> validated against it (BucketSpecMismatch
    # instead of silently scattering urls across a foreign modulus)
    num_buckets = wh.resolve_num_buckets(out_dir, num_buckets,
                                         DEFAULT_NUM_BUCKETS)
    prev_split = _scan_split_bytes(spark, pages_path)
    try:
        return _run_extraction_inner(
            spark, pages_path, out_dir, snapshot_id, num_buckets,
            buckets_per_batch, max_tokens, salt_partitions, mode,
            retain_snapshots, _fail_after_batches)
    finally:
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


def _run_extraction_inner(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    snapshot_id: str,
    num_buckets: int,
    buckets_per_batch: int | None,
    max_tokens: int,
    salt_partitions: int,
    mode: str,
    retain_snapshots: bool,
    _fail_after_batches: int | None,
) -> ExtractionReport:
    # declared schema: the only Spark jobs are the batches' own
    pages = _read_pages(spark, pages_path)

    # conflict base: the instant this job read its base state. Using the
    # per-batch start instead would miss a newer snapshot that committed
    # while an EARLIER batch of this run was computing.
    base_ts = wh.now()
    done = wh.completed_buckets(out_dir, snapshot_id)
    todo = [b for b in range(num_buckets) if b not in done]
    report = ExtractionReport(
        snapshot_id=snapshot_id,
        buckets_total=num_buckets,
        buckets_skipped=len(done),
        buckets_done=0,
    )
    if not todo:
        return report

    step = buckets_per_batch or len(todo)
    batches = [todo[i:i + step] for i in range(0, len(todo), step)]
    staging_root = os.path.join(out_dir, "_staging")

    import time as _time

    # unique per-run suffix: two concurrent runs of the SAME snapshot are
    # supported (idempotent duplicates), so a deterministic staging path
    # would let one run rmtree the other's half-written staged tables and
    # then commit partial buckets with lineage claiming them done
    import uuid
    run_id = uuid.uuid4().hex[:12]

    for batch_idx, batch in enumerate(batches):
        started = wh.now()
        _t0 = _time.time()
        staging = os.path.join(staging_root,
                               f"{snapshot_id}-{batch_idx}-{run_id}")
        shutil.rmtree(staging, ignore_errors=True)

        try:
            sub = pages.withColumn("bucket", bucket_of(F.col("url"), num_buckets))
            if len(batch) < num_buckets:
                sub = sub.filter(F.col("bucket").isin(batch))

            n_changed = None
            if mode == "merge":
                with job_description(spark, "extract:changes"):
                    sub, n_unchanged, n_changed = _changed_pages(
                        spark, sub, out_dir, batch)
                report.docs_unchanged += n_unchanged

            # Bucket-aligned repartition: the url-hash bucket IS the salt
            # (urls hash uniformly, so host-heavy crawls still spread).
            # The parse stage always runs salt_partitions tasks, each
            # paying a fixed set-up once (16 buckets as 16 tasks ran a
            # 600-page job at local[4] in a median 1.85 s against 1.09 s
            # as 4 tasks): whole buckets round-robin, or a batch of fewer
            # buckets salted across all of them (route_buckets). Sorted
            # by (bucket, url) with no shuffle, each task parses, chunks
            # and writes one file per bucket per table (stage_documents).
            manifest = []
            if n_changed != 0:  # a merge batch of unchanged pages stages nothing
                sub = (wh.route_buckets(sub, batch, salt_partitions)
                       .sortWithinPartitions("bucket", "url"))
                with job_description(spark, "extract:parse"):
                    manifest = [r.asDict() for r in stage_documents(
                        sub, staging, max_tokens=max_tokens).collect()]
            stats: dict[int, dict] = {}
            for r in manifest:
                s = stats.setdefault(r["bucket"], {
                    "doc_count": 0, "chunk_count": 0, "failure_count": 0})
                s["doc_count" if r["table"] == "extracted"
                  else "chunk_count"] += r["rows"]
                s["failure_count"] += r["failures"]
            staged = {t: (os.path.join(staging, t), STAGED_SCHEMAS[t])
                      for t in STAGED_SCHEMAS}
            if mode == "merge" and manifest:
                with job_description(spark, "extract:merge"):
                    staged, manifest = _merge_staged(
                        spark, out_dir, staging, manifest)

            _t1 = _time.time()
            # The shared bucket-rewrite commit. Validation: a NEWER
            # snapshot that committed any of these buckets since base_ts
            # would be silently rolled back — fail instead; a rerun
            # rebases on current lineage (same-snapshot concurrent commits
            # are idempotent duplicates and pass through). A bucket of the
            # batch with no staged dir (no docs) keeps its committed dir.
            lineage_rows = snap.commit_rewrite(
                out_dir, staged, batch, num_buckets, snapshot_id,
                conflicts=lambda: wh.conflicting_buckets(
                    out_dir, snapshot_id, batch, base_ts),
                manifest=manifest, lineage=stats,
                started_at=started, force=retain_snapshots,
                commit_id=f"{snapshot_id}-b{batch_idx}-{run_id}")
            _t2 = _time.time()
            for k, v in (("udf_stage", _t1 - _t0), ("commit", _t2 - _t1)):
                report.phase_sec[k] = round(
                    report.phase_sec.get(k, 0.0) + v, 2)
        finally:
            # a failed batch (incl. CommitConflict) must not leak staged
            # parquet: the rerun recomputes; only committed tables survive
            shutil.rmtree(staging, ignore_errors=True)

        report.buckets_done += len(batch)
        report.batches.append(batch)
        report.doc_count += sum(r["doc_count"] for r in lineage_rows)
        report.chunk_count += sum(r["chunk_count"] for r in lineage_rows)
        report.failure_count += sum(r["failure_count"] for r in lineage_rows)

        if _fail_after_batches is not None and batch_idx + 1 >= _fail_after_batches:
            raise RuntimeError("injected failure for resume testing")

    # Remove ONLY the _staging root if nothing else is using it: a delete /
    # registry-upsert racing a finishing job stages under the same root, and
    # an rmtree here would wipe its bucket rewrite mid-commit. Each writer
    # cleans its own unique staging dir; the empty root is vacuumed softly.
    try:
        os.rmdir(staging_root)
    except OSError:
        pass  # non-empty (another writer's staging) or already gone
    return report


def _changed_pages(spark, sub: DataFrame, out_dir: str,
                   batch: list[int]) -> tuple[DataFrame, int, int]:
    """Merge-mode change detection for one bucket batch: the changed
    pages and the counts of unchanged and changed urls.

    Keeps only pages that are NEW (url absent from the committed
    ``extracted`` table) or NEWER (``warc_ts`` strictly greater than the
    committed row's). Crawl snapshots re-fetch: the same url can appear
    several times in one snapshot, so the latest ``warc_ts`` per url wins
    first; exact (url, warc_ts) duplicates are collapsed deterministically
    by content hash. All decisions run over narrow (url, warc_ts) column
    scans — unchanged pages' html bytes never enter a shuffle."""
    from pyspark.sql import Window

    latest = (sub.select("url", "warc_ts")
              .groupBy("url").agg(F.max("warc_ts").alias("warc_ts")))

    # schema-pinned: no footer-inference job
    done = wh.read_buckets(spark, out_dir, "extracted", batch)
    if done is not None:
        done = done.select("url", F.col("warc_ts").alias("_done_ts"))
        keys = latest.join(done, "url", "left").withColumn(
            "_changed", F.col("_done_ts").isNull()
            | (F.col("warc_ts") > F.col("_done_ts")))
    else:
        keys = latest.withColumn("_changed", F.lit(True))
    # both counts from one aggregate: one job, not two
    n_latest, n_changed = keys.agg(
        F.count("*"), F.count(F.when(F.col("_changed"), 1))).first()
    changed_keys = keys.filter("_changed").select("url", "warc_ts")

    sub = sub.join(changed_keys, ["url", "warc_ts"], "left_semi")
    # collapse exact (url, warc_ts) duplicates deterministically (shuffles
    # only the changed subset, which the parse stage repartitions anyway)
    w = Window.partitionBy("url").orderBy(
        F.md5(F.coalesce(F.col("html"), F.lit(b""))).asc(),
        F.coalesce(F.col("text"), F.lit("")).asc())
    sub = (sub.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1).drop("_rn"))
    return sub, n_latest - n_changed, n_changed


def _merge_staged(spark, out_dir: str, staging: str,
                  manifest: list[dict]) -> tuple[dict, list[dict]]:
    """Copy-on-write MERGE of a batch's staged new rows into the buckets
    they touch: each touched bucket is restaged as (committed rows minus
    re-extracted urls) ∪ (new rows). A bucket of the batch with zero
    changed pages is not touched: its committed dir stays. Returns the
    ``staged`` tables and manifest to commit."""
    active = sorted({r["bucket"] for r in manifest})
    staged, merged_manifest = {}, []
    # extracted first: its urls are those of every new doc, chunks or not
    for t in ("extracted", "chunks"):
        d = os.path.join(staging, t)
        # only the files the manifest lists: a failed attempt's are not rows
        files = [os.path.join(wh.bucket_dir(d, r["bucket"]), r["file"])
                 for r in manifest if r["table"] == t]
        merged = (spark.read.schema(STAGED_SCHEMAS[t]).option("basePath", d)
                  .parquet(*files) if files
                  else spark.createDataFrame([], STAGED_SCHEMAS[t]))
        if t == "extracted":
            new_urls = merged.select("url")
        old = wh.read_buckets(spark, out_dir, t, active)
        if old is not None:
            # allowMissingColumns: carried-over rows written by an older
            # code version read null for any column this version added
            # (Iceberg add-column semantics) instead of failing the run
            merged = (old.join(new_urls, "url", "left_anti")
                      .unionByName(merged, allowMissingColumns=True))
        d = os.path.join(staging, "merged", t)
        merged_manifest += wh.stage_buckets(merged, d, t, active)
        staged[t] = (d, merged.schema)
    return staged, merged_manifest


def embed_warehouse(spark: SparkSession, out_dir: str,
                    num_buckets: int | None = None) -> str:
    """Embed the warehouse's ``chunks`` into ``<out_dir>/embeddings`` and
    return that dir. Map-only: scan → embedding UDF → write, no shuffle:
    one Spark job, tagged ``embed:write`` (``chunks`` is read with its
    pinned schema, so no footer-inference job, and no column of a
    mixed-era table goes missing).

    The table is bucketed at the warehouse's pinned spec, like every other
    table: a delete's bucket-local rewrite looks for a url's embedding
    rows only in the bucket its url hashes to at that modulus. An
    explicit ``num_buckets`` is validated against the pin
    (``BucketSpecMismatch``)."""
    from docling_rag_spark.operators.embed import embed_chunks

    num_buckets = wh.resolve_num_buckets(out_dir, num_buckets)
    emb_dir = os.path.join(out_dir, "embeddings")
    with job_description(spark, "embed:write"):
        (embed_chunks(wh.read_table(spark, out_dir, "chunks"))
         .withColumn("bucket", bucket_of(F.col("url"), num_buckets))
         .write.partitionBy("bucket").mode("overwrite").parquet(emb_dir))
    return emb_dir


def delete_urls(spark: SparkSession, out_dir: str, urls: list[str],
                num_buckets: int | None = None,
                tables: tuple[str, ...] = ("chunks", "extracted",
                                           "embeddings", "registry")) -> dict:
    """Delete documents by url across all warehouse tables (reference
    ``cli delete`` + the documents→chunks FK cascade, db_schema.py:27,
    cli/commands.py:268-269) — including the registry card table and the
    materialized ANN index.

    Iceberg-wise this is ``DELETE FROM t WHERE url IN (...)``; here it is a
    *bucket-local rewrite*: only the url-hash buckets that can contain the
    targeted urls are read, filtered, and atomically re-committed — every
    other bucket's files are untouched (the same partition-pruned shape a
    real DELETE takes on a bucket-partitioned Iceberg table).

    Its Spark jobs are tagged ``delete:<table>`` per table and
    ``delete:ann``; the urls' buckets are hashed on the driver
    (``url_buckets``), without a job.
    """
    num_buckets = wh.resolve_num_buckets(out_dir, num_buckets)
    urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
    buckets = url_buckets(urls, num_buckets)
    report = {"buckets_rewritten": buckets, "rows_deleted": {}}
    # unique per-invocation staging dir: concurrent deletes (or a delete
    # racing an extraction job's cleanup) must never share a staging path
    import uuid
    staging = os.path.join(out_dir, "_staging",
                           f"delete-{uuid.uuid4().hex[:12]}")
    os.makedirs(staging, exist_ok=True)
    del_snap = f"delete-{uuid.uuid4().hex[:12]}"

    # Make the delete VISIBLE to extraction's optimistic-concurrency check
    # BEFORE any data moves: appended after the swaps (or worse, after the
    # long ANN cascade) the record would leave the resurrection window it
    # exists to close wide open, and a crash mid-delete would never write
    # it. Written first, a crash merely leaves a conflict record with no
    # data change — extraction jobs rerun, which is safe.
    ts = wh.now()
    with wh.commit_lock(out_dir):
        wh.append_lineage(out_dir, del_snap, [{
            "input_snapshot_id": del_snap, "bucket": b, "doc_count": 0,
            "chunk_count": 0, "failure_count": 0,
            "started_at": ts, "finished_at": ts} for b in buckets])

    try:
        for table in tables:
            with job_description(spark, f"delete:{table}"):
                report["rows_deleted"][table] = _delete_bucketed(
                    spark, out_dir, table, urls_df, buckets, num_buckets,
                    staging, del_snap)
        with job_description(spark, "delete:ann"):
            report["ann_rows_deleted"] = _delete_from_ann(
                spark, out_dir, urls_df, staging)
    finally:
        # a CommitConflict / failed write must not leak staged parquet
        # (it would also keep the _staging root non-removable forever)
        shutil.rmtree(staging, ignore_errors=True)
    return report


def _delete_bucketed(spark, out_dir: str, table: str, urls_df,
                     buckets: list[int], num_buckets: int, staging: str,
                     del_snap: str) -> int:
    """Bucket-local anti-join rewrite of one bucketed table; returns rows
    deleted: the listed files' footer row counts less the staged output
    (no count job, and no post-commit rescan, which a concurrent
    extraction commit could skew negative)."""
    read_ts = wh.now()
    # schema-pinned read: a delete over mixed-era buckets must not strip
    # an added column from the carried-over rows it rewrites
    sub = wh.read_buckets(spark, out_dir, table, buckets)
    if sub is None:
        return 0
    before = sum(pq.read_metadata(f).num_rows
                 for f in wh.bucket_files(out_dir, table, buckets))
    kept = sub.join(F.broadcast(urls_df), "url", "left_anti")
    stage_tbl = os.path.join(staging, table)
    manifest = wh.stage_buckets(kept, stage_tbl, table, buckets)
    # validation: an extraction batch that committed these buckets AFTER
    # our read must not be overwritten by the pre-extraction rewrite (its
    # lineage would still claim the bucket done -> permanent loss). On a
    # retain_snapshots warehouse the delete is a retained commit like any
    # other (Iceberg DELETE produces a snapshot).
    snap.commit_rewrite(
        out_dir, {table: (stage_tbl, kept.schema)}, buckets, num_buckets,
        del_snap, conflicts=lambda: wh.conflicting_buckets(
            out_dir, del_snap, buckets, read_ts), manifest=manifest)
    return before - sum(r["rows"] for r in manifest)


def _delete_from_ann(spark: SparkSession, out_dir: str, urls_df,
                     staging: str) -> dict:
    """Cascade a url delete into the materialized ANN index: a stale index
    would keep ranking chunks of deleted documents in mode=auto/ann
    searches. ``ann/pq`` gets a whole-table rewrite (a url predicate does
    not align with the cell partitioning — the same shape Iceberg's
    DELETE takes on a non-partition predicate): read with the sidecar's
    declared schema (no footer-inference job), anti-joined, and swapped
    in via the recoverable two-rename protocol — or removed outright when
    no row survives (a zero-row partitionBy write leaves a file-less dir;
    readers treat a missing table as empty). The rows before come from
    the files' footers. The cascade holds the index lock, so its swap
    never interleaves with a build's swap or a crash recovery of the same
    dirs. Returns ``{"ann/pq": rows removed}``; empty when none are, there
    is no index, or it has no url column (an oracle-table build keyed by
    vec_id)."""
    ann_root = os.path.join(out_dir, "ann")
    target = os.path.join(ann_root, "pq")
    if not os.path.isdir(ann_root):
        return {}
    with AI.index_lock(ann_root, timeout=60.0):
        wh.recover_swap(target)
        side = AI.read_books(ann_root)
        if side is None or not os.path.isdir(target):
            return {}
        schema = T.StructType.fromJson(side["schema"])
        if "url" not in schema.fieldNames():
            return {}
        before = sum(pq.read_metadata(f).num_rows
                     for f in wh.bucket_files(ann_root, "pq", None))
        kept = (spark.read.schema(schema.add(AI.CELL, T.IntegerType()))
                .parquet(target)
                .join(F.broadcast(urls_df), "url", "left_anti"))
        n_kept = kept.count()
        if n_kept == before:
            return {}
        if n_kept == 0:
            trash = os.path.join(staging, ".gone-ann_pq")
            os.rename(target, trash)
            shutil.rmtree(trash, ignore_errors=True)
        else:
            tmp = os.path.join(staging, "ann_pq")
            (kept.write.partitionBy(AI.CELL).mode("overwrite")
             .parquet(tmp))
            wh.swap_dir(tmp, target)
    return {"ann/pq": before - n_kept}
