"""Serving-tier service functions over the extraction warehouse.

The reference exposes its store through FastAPI endpoints
(api/app.py:198-333: GET /search, GET /documents, DELETE /documents/{id},
POST /documents -> async job, GET /jobs/{id}). This module provides the
same operations as plain functions over (SparkSession, warehouse dir) so
the stdlib HTTP server (api/server.py) — or any other frontend — stays a
thin JSON shim. No web framework ships in this environment; the HTTP tier
is deliberately dependency-free.

Driver-side role: these run interactive, seconds-scale queries. A search
is one small Spark job: a TakeOrderedAndProject over the embeddings table
or the ANN index collects the top-k keys. The driver then decorates them
by reading only their urls' bucket files of ``extracted`` and ``chunks``
with pyarrow. Status is a lineage-table scan. The heavy batch work stays
in plans/job.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.session import job_description


# the exact path's table as scripts/run_embed.py writes it; declared so a
# request plans its scan without a footer-inference job
EMBEDDINGS_SCHEMA = ("url string, chunk_id int, embedding array<float>, "
                     "bucket int")


def search_warehouse(spark: SparkSession, warehouse: str, query: str,
                     top_k: int = 5, url_prefix: str | None = None,
                     log: bool = True, mode: str = "auto",
                     include_text: bool = False) -> list[dict]:
    """§3.2 search lifecycle: embed query -> top-k -> decorate (J1) ->
    heading path (F3) + 300-char preview (F4) -> search log (S8).

    One Spark job, ``search:topk``:

    1. top-k: one TakeOrderedAndProject over the candidate rows collects
       the <= k ``(url, chunk_id, score)`` hits to the driver. A
       ``url_prefix`` is a ``startswith`` filter on the candidates, pushed
       into their scan.
    2. decorate, on the driver (``_decorate``): the bucket files of the
       hit urls in ``extracted`` and ``chunks`` are read with pyarrow,
       filtered to the hit keys, and the rows are merged onto the hits,
       ordered by (score desc, url, chunk_id) with the score rounded to 4
       places.

    ``mode``: 'exact' scans the full embeddings table; 'ann' requires the
    materialized <warehouse>/ann index (run_embed.py --ann-index) and
    scans only 4 of its 16 IVF-PQ cells; the ADC-ranked candidates are
    reranked by exact cosine — the reference's HNSW approximate-speed
    trade-off (storage/db_schema.py:36-37), here as Iceberg-style
    partition pruning; 'auto' uses the index when it holds rows
    (``ann/pq``), exact search otherwise.
    A store with no chunks raises ``FileNotFoundError`` (P5); it is only
    probed when the top-k comes back empty."""
    from docling_rag_spark.operators.embed import embed_chunks, embed_texts
    from docling_rag_spark.operators.search import log_search, search_chunks
    from docling_rag_spark.plans import ann_index as AI

    if mode not in ("auto", "exact", "ann"):
        raise ValueError(f"invalid mode {mode!r}; use auto|exact|ann")
    emb_path = os.path.join(warehouse, "embeddings")
    ann = os.path.join(warehouse, "ann")
    if mode == "ann" or (mode == "auto" and AI.has_rows(ann)):
        q_vec = [float(v) for v in embed_texts([query])[0]]
        top = AI.probe(spark, ann, q_vec, ("url", "chunk_id"), top_k,
                       where=(None if url_prefix is None
                              else F.col("url").startswith(url_prefix)))
    else:
        if os.path.isdir(emb_path):
            emb = spark.read.schema(EMBEDDINGS_SCHEMA).parquet(emb_path)
        else:
            emb = embed_chunks(wh.read_table(spark, warehouse, "chunks"))
        if url_prefix is not None:
            emb = emb.filter(F.col("url").startswith(url_prefix))
        top = search_chunks(spark, emb, query, top_k=top_k,
                            store_is_empty=False)
    with job_description(spark, "search:topk"):
        hits = (top.select("url", "chunk_id",
                           F.round("score", 4).alias("score"))
                .collect())
        if not hits and wh.read_table(spark, warehouse, "chunks").isEmpty():
            raise FileNotFoundError("no chunks in storage (reference "
                                    "db_storage.py:131-133 contract)")
    rows = _decorate(warehouse, hits, include_text)
    if log:
        log_search(warehouse, query, rows[0]["score"] if rows else None)
    return rows


def _decorate(warehouse: str, hits: list, include_text: bool
              ) -> list[dict]:
    """Left-join the hits to their document title and chunk metadata by a
    driver-side point lookup in the hit urls' buckets (every bucket while
    the spec is unpinned or a rebucket is in flight). Both tables hold one
    row per key (extraction keeps the latest page per url); a hit with no
    row keeps null fields. ``heading_path`` and ``preview`` are Spark's
    ``array_join(headings, ' > ')`` (nulls skipped) and
    ``translate(substring(text, 1, 300), '\\n', ' ')``."""
    from docling_rag_spark.plans.job import url_buckets

    if not hits:
        return []
    urls = sorted({h["url"] for h in hits})
    n = wh.warehouse_num_buckets(warehouse)
    if n is None or wh.rebucket_in_progress(warehouse) is not None:
        buckets = None
    else:
        buckets = url_buckets(urls, n)
    titles = {r["url"]: r["title"] for r in wh.lookup_rows(
        warehouse, "extracted", buckets, ["url", "title"], {"url": urls})}
    meta = {}
    for r in wh.lookup_rows(
            warehouse, "chunks", buckets,
            ["url", "chunk_id", "headings", "text", "page_number",
             "element_type"],
            {"url": urls,
             "chunk_id": sorted({h["chunk_id"] for h in hits})}):
        heads, text = r["headings"], r["text"]
        meta[(r["url"], r["chunk_id"])] = {
            "heading_path": None if heads is None else " > ".join(
                x for x in heads if x is not None),
            "preview": None if text is None
            else text[:300].replace("\n", " "),
            "page_number": r["page_number"],
            "element_type": r["element_type"],
            "text": text, "headings": heads}
    extra = ["text", "headings"] if include_text else []
    fields = ["heading_path", "preview", "page_number", "element_type",
              *extra]
    rows = []
    for h in hits:
        m = meta.get((h["url"], h["chunk_id"]), {})
        rows.append({"url": h["url"], "chunk_id": h["chunk_id"],
                     "score": h["score"], "title": titles.get(h["url"]),
                     **{f: m.get(f) for f in fields}})
    rows.sort(key=lambda r: (-r["score"], r["url"], r["chunk_id"]))
    return rows


def chat_payload(spark: SparkSession, warehouse: str, message: str,
                 top_k: int = 3) -> dict:
    """Deterministic /chat contract (reference api/app.py:145-176 +
    tests/api/test_chat_endpoint.py, minus the model call — same boundary
    as the X8 LLM stand-in): run the agent's search tool, compose the
    cited context block the LLM would receive, and return it as the
    answer alongside the reference's sources panel — file basename, page,
    headings, score, full chunk text, element_type per hit. The search is
    logged exactly like the reference's agent tool call
    (test_chat_logs_agent_search)."""
    rows = search_warehouse(spark, warehouse, message, top_k=top_k,
                            include_text=True)
    sources = [{
        "file": str(r["url"]).rsplit("/", 1)[-1],
        "page": r["page_number"],
        "headings": list(r["headings"] or []),
        "score": float(r["score"]),
        "text": r["text"],
        "element_type": r["element_type"],
    } for r in rows]
    from docling_rag_spark.operators.search import format_search_results
    context = format_search_results([
        ({"source_file": r["url"], "page_number": r["page_number"],
          "headings": list(r["headings"] or []), "text": r["text"]},
         float(r["score"]))
        for r in rows])
    return {"answer": context, "sources": sources}


def status_payload(spark: SparkSession, warehouse: str) -> dict:
    """Job-status rollup from the lineage table (the reference's GET
    /jobs view, backed here by per-bucket lineage rows)."""
    df = wh.lineage_df(spark, warehouse)
    rows = (df.groupBy("input_snapshot_id")
            .agg(F.countDistinct("bucket").alias("buckets_done"),
                 F.sum("doc_count").alias("doc_count"),
                 F.sum("chunk_count").alias("chunk_count"),
                 F.sum("failure_count").alias("failure_count"),
                 F.max("finished_at").alias("last_commit_at"))
            .orderBy("input_snapshot_id").collect())
    return {"snapshots": [r.asDict() for r in rows]}


def documents_payload(spark: SparkSession, warehouse: str,
                      limit: int = 100, url_prefix: str | None = None
                      ) -> list[dict]:
    """Catalog listing (reference GET /documents)."""
    ex = wh.read_table(spark, warehouse, "extracted")
    if url_prefix is not None:
        ex = ex.filter(F.col("url").startswith(url_prefix))
    rows = (ex.select("url", "title", "format", "status", "lang",
                      "n_chunks")
            .orderBy("url").limit(limit).collect())
    return [r.asDict() for r in rows]


def delete_documents(spark: SparkSession, warehouse: str,
                     urls: list[str]) -> dict:
    """FK-cascade delete across warehouse tables (reference DELETE
    /documents/{id}; bucket-pruned rewrite, plans/job.py)."""
    from docling_rag_spark.plans.job import delete_urls
    return delete_urls(spark, warehouse, urls)


class JobRunner:
    """Async extraction jobs (reference POST /documents -> jobs queue).

    One job at a time (the lock is the sandbox stand-in for the
    reference's single-worker queue); job state lives in memory here and
    in the lineage table durably — a restarted server resumes nothing,
    but rerunning the same snapshot only processes uncommitted buckets
    (J3 anti-join), which IS the durable queue semantics."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self._spark = spark
        self._warehouse = warehouse
        self._lock = threading.Lock()       # job-table mutations
        self._run_lock = threading.Lock()   # serializes job execution
        self._jobs: dict[str, dict] = {}
        self._seq = 0

    def submit(self, pages_path: str, snapshot_id: str = "snap-0",
               num_buckets: int | None = None) -> str:
        with self._lock:
            self._seq += 1
            job_id = f"job-{self._seq}"
            self._jobs[job_id] = {"job_id": job_id, "status": "queued",
                                  "snapshot_id": snapshot_id,
                                  "submitted_at": time.time()}

        def run():
            with self._run_lock:
                self._run(job_id, pages_path, snapshot_id, num_buckets)

        threading.Thread(target=run, daemon=True).start()
        return job_id

    def _run(self, job_id, pages_path, snapshot_id, num_buckets):
        from docling_rag_spark.plans.job import run_extraction
        self._update(job_id, status="running")
        try:
            rep = run_extraction(self._spark, pages_path, self._warehouse,
                                 snapshot_id=snapshot_id,
                                 num_buckets=num_buckets)
            self._update(job_id, status="done", doc_count=rep.doc_count,
                         chunk_count=rep.chunk_count,
                         failure_count=rep.failure_count,
                         buckets_skipped=rep.buckets_skipped)
        except Exception as exc:  # job-level fail-soft: surfaced in state
            self._update(job_id, status="error", error=str(exc))

    def _update(self, job_id: str, **kw) -> None:
        with self._lock:
            self._jobs[job_id] = {**self._jobs[job_id], **kw}

    def delete(self, urls: list[str]) -> dict:
        """FK-cascade delete, serialized against extraction jobs (a delete
        racing a running job would rewrite buckets the job is about to
        commit over — last-write-wins either way; the lock makes the
        ordering explicit instead of torn)."""
        with self._run_lock:
            return delete_documents(self._spark, self._warehouse, urls)

    def job(self, job_id: str) -> dict | None:
        with self._lock:
            j = self._jobs.get(job_id)
            return dict(j) if j is not None else None

    def jobs(self) -> list[dict]:
        with self._lock:
            snap = [dict(j) for j in self._jobs.values()]
        return sorted(snap, key=lambda j: j["submitted_at"])
