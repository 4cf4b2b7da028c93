"""The three workloads. Each has a set-up (untimed, counted in ``setup_s``),
an operation the timed loop repeats, an output check run on every
operation, and the per-layer metrics of a traced phase.

BENCHMARK.json lists ``extract`` and ``search``. ``curate`` runs by hand
(``--workload curate``); its per-layer metrics come from the traced
``extract`` run, which ends with one curation (``ALSO_TRACED``). A curation
is one 30-55 s operation at 4 CPUs: with ~22 runs of it, a comparison of
two commits (ten seeds per workload on each side, plus traced runs) would
not end within the hour on a slow host.

* ``extract``: one ``plans.job.run_extraction`` (overwrite, fresh
  warehouse) per operation, after run_extract's ``--warmup`` and one
  untimed job.
* ``search``: closed loop, one client thread; one HTTP ``GET /search`` to
  ``api.server.serve_background`` per operation, after ``WARM_REQUESTS``.
* ``curate``: one ``plans.curate.run_curation(require_stopwords=False)``
  per operation, without a warm-up: like scripts/run_curate.py, a
  curation is the first job of its process.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import time
import urllib.parse
import urllib.request
from statistics import median

import numpy as np
import pyarrow.dataset as ds

import eventlog
from fixtures import BUCKETS

TOP_K = 5
WARM_REQUESTS = 8


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _table(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


class Workload:
    name = ""
    # spans installed during the traced phase: {span: ["module:attr"]}
    SPANS: dict[str, list[str]] = {}
    # workloads whose operation the traced phase runs once after this
    # one's, for their per-layer metrics
    ALSO_TRACED: tuple[str, ...] = ()
    # operations in one round of the workload's request mix
    CYCLE = 1

    def __init__(self, bench):
        self.b = bench

    def prepare(self) -> None:
        """Untimed: load what the operation checks against from the
        fixture cache."""

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict:
        """One timed operation: ``{"s": seconds, "ok": bool, ...}``."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    def record(self, ops: list[dict]) -> dict:
        """The workload's own end-to-end figures under their own names
        (``job_s``, ``docs_per_s``, ``search_*_p50_ms``)."""
        job = median(o["s"] for o in ops)
        return {"job_s": (job, "s"),
                "docs_per_s": (ops[0]["docs"] / job, "1/s")}

    def layers(self, ops: list[dict], log: dict) -> dict:
        """Per-layer metrics of the traced ops (per-operation values)."""
        raise NotImplementedError


# --- extract -----------------------------------------------------------------

class Extract(Workload):
    name = "extract"
    ALSO_TRACED = ("curate",)
    SPANS = {
        "commit": ["docling_rag_spark.io.warehouse:append_lineage",
                   "docling_rag_spark.io.warehouse:pin_table_schema",
                   "docling_rag_spark.io.snapshots:commit_buckets_retained"],
    }

    def prepare(self) -> None:
        self.expected = self.b.fixture.expected_extract()

    def setup(self) -> None:
        b = self.b
        # run_extract --warmup: spawn the Python workers on a tiny slice,
        # then one full job on up to 2k docs of an isolated warehouse
        from docling_rag_spark.operators.pipeline import extract_documents
        from docling_rag_spark.plans.job import run_extraction
        spark, cores = b.spark, b.cores
        warm = spark.read.parquet(b.fixture.pages).limit(4 * cores)
        extract_documents(warm, salt_partitions=4 * cores).count()
        wtmp = os.path.join(b.run_dir, "warm_extract")
        (spark.read.parquet(b.fixture.pages).limit(max(2000, 4 * cores))
         .write.mode("overwrite").parquet(os.path.join(wtmp, "pages")))
        run_extraction(spark, os.path.join(wtmp, "pages"),
                       os.path.join(wtmp, "wh"), snapshot_id="warm",
                       num_buckets=max(2 * cores, 16), salt_partitions=cores)
        shutil.rmtree(wtmp, ignore_errors=True)
        # job times still fall ~15% over the next jobs of a fresh JVM
        # (JIT); one untimed job moves the timed ones past most of that
        self.op(-1)

    def op(self, i: int) -> dict:
        from docling_rag_spark.plans.job import run_extraction
        out = os.path.join(self.b.run_dir, f"extract-{i}")
        t0 = time.perf_counter()
        rep = run_extraction(self.b.spark, self.b.fixture.pages, out,
                             num_buckets=BUCKETS,
                             salt_partitions=self.b.cores)
        s = time.perf_counter() - t0
        files, size = _tree_size(out)
        ok = self._check(out, rep)
        shutil.rmtree(out, ignore_errors=True)
        return {"s": s, "ok": ok, "docs": rep.doc_count,
                "files": files, "bytes": size}

    def _check(self, out: str, rep) -> bool:
        """Warehouse == replay: per-url md5(extracted_text) and chunk fold,
        plus doc, chunk and failure counts."""
        from replay import _md5, chunk_fold
        exp = self.expected
        if (rep.doc_count, rep.chunk_count, rep.failure_count) != (
                exp["docs"], exp["chunks"], exp["failures"]):
            return False
        ext = _table(os.path.join(out, "extracted"),
                     ["url", "extracted_text", "status"]).to_pydict()
        ch = _table(os.path.join(out, "chunks"),
                    ["url", "chunk_id", "text", "span"]).to_pydict()
        per_url: dict[str, list] = {}
        for url, cid, text, span in zip(ch["url"], ch["chunk_id"],
                                        ch["text"], ch["span"]):
            per_url.setdefault(url, []).append(
                {"chunk_id": cid, "text": text, "span": span})
        got = {}
        for url, text, status in zip(ext["url"], ext["extracted_text"],
                                     ext["status"]):
            chunks = sorted(per_url.get(url, []),
                            key=lambda c: c["chunk_id"])
            got[url] = [_md5(text), chunk_fold(chunks), len(chunks), status]
        return got == exp["digests"]

    def layers(self, ops: list[dict], log: dict) -> dict:
        from replay import run as replay
        from spans import Spans
        b, n = self.b, len(ops)
        rep = replay(b.fixture.pages, Spans())["layers"]
        # per op: scan + salted exchange, then the UDF stage, then the
        # derivations (AQE runs the exchange as its own job, so the UDF
        # stage's recorded parents are skipped stages, not the scan)
        udf, feed, derive = [], [], []
        for o in ops:
            win = eventlog.in_window(log, *o["win"])
            py = [s for s in win if eventlog.is_python_stage(s)]
            first = min((s["submit_ms"] for s in py), default=0)
            udf.append(py)
            feed.append([s for s in win if s["submit_ms"] < first])
            derive.append([s for s in win
                           if s["submit_ms"] > first and s not in py])
        u = eventlog.per_op(udf)
        m = {f"spark.udf_stage.{k}": u[k] for k in (
            "wall_s", "task_s", "task_p50_s", "task_max_s", "gc_s",
            "framework_s", "shuffle_read_bytes", "spill_bytes")}
        # the exchange feeding the UDF stage is written by the scan stage
        m["spark.udf_stage.shuffle_write_bytes"] = \
            eventlog.per_op(feed)["shuffle_write_bytes"]
        d = eventlog.per_op(derive)
        m["spark.derive.wall_s"] = d["wall_s"]
        m["spark.derive.task_s"] = d["task_s"]
        # task-seconds of the UDF stage = replayed body + GC + framework
        # + what neither accounts for (Arrow transport, worker IPC, write)
        m["udf_stage.unattributed_s"] = (u["task_s"] - rep["replay.total_s"]
                                         - u["gc_s"] - u["framework_s"])
        m["io.warehouse.commit_s"] = b.spans.s("commit") / n
        m["io.warehouse.files_written"] = median([o["files"] for o in ops])
        m["io.warehouse.bytes_written"] = median([o["bytes"] for o in ops])
        m.update(rep)
        return m


# --- search ------------------------------------------------------------------

class Search(Workload):
    name = "search"
    # op i: exact if i is even, else ann; url_prefix if i % 8 in (2, 7)
    CYCLE = 8
    SPANS = {
        "service": ["docling_rag_spark.api.service:search_warehouse"],
        "topk": ["docling_rag_spark.operators.search:search_chunks"],
        # the query embed: inside search_chunks (exact) or in the service's
        # ANN probe path (ann), which imports it from operators.embed
        "embed_topk": ["docling_rag_spark.operators.search:embed_texts"],
        "embed_ann": ["docling_rag_spark.operators.embed:embed_texts"],
    }

    def prepare(self) -> None:
        self.index_meta = self.b.fixture.index_meta()

    def setup(self) -> None:
        b = self.b
        self.wh = os.path.join(b.run_dir, "wh-search")
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(b.fixture.wh, self.wh)
        self._load_reference()
        from docling_rag_spark.api.server import serve_background
        self.srv, self.base = serve_background(b.spark, self.wh)
        self.rng = random.Random(b.seed)
        # request latency falls ~40% over the first requests of a fresh
        # JVM (query planning gets JIT-compiled): time the ones after
        for i in range(WARM_REQUESTS):
            self._get(self._query(), ("exact", "ann")[i % 2], None)

    def _load_reference(self) -> None:
        t = _table(os.path.join(self.wh, "embeddings"),
                   ["url", "chunk_id", "embedding"])
        self.urls = np.array(t["url"].to_pylist(), dtype=object)
        self.cids = np.array(t["chunk_id"].to_pylist())
        emb = t["embedding"].combine_chunks()
        self.emb = np.asarray(emb.values, dtype=np.float64).reshape(
            len(emb), -1)
        text = _table(os.path.join(self.wh, "chunks"), ["text"])["text"]
        words = set()
        for s in text.to_pylist():
            words.update(re.findall(r"[^\W\d_]{3,}", s.lower()))
        self.vocab = sorted(words)

    def _query(self) -> str:
        return " ".join(self.rng.sample(self.vocab, self.rng.randint(2, 4)))

    def _get(self, q: str, mode: str, prefix: str | None) -> dict:
        params = {"q": q, "k": TOP_K, "mode": mode}
        if prefix:
            params["url_prefix"] = prefix
        url = f"{self.base}/search?{urllib.parse.urlencode(params)}"
        with urllib.request.urlopen(url, timeout=120) as r:
            return json.loads(r.read())

    def op(self, i: int) -> dict:
        mode = "exact" if i % 2 == 0 else "ann"
        # one request in four filters by url prefix, in both modes
        prefix = (f"https://host{self.rng.randint(0, 3)}.example/"
                  if i % self.CYCLE in (2, 7) else None)
        q = self._query()
        t0 = time.perf_counter()
        try:
            body = self._get(q, mode, prefix)
            s = time.perf_counter() - t0
        except OSError:  # non-2xx (HTTPError) or a refused connection
            return {"s": time.perf_counter() - t0, "ok": False, "mode": mode}
        hits = [(h["url"], h["chunk_id"], h["score"])
                for h in body["results"]]
        ok, recall = self._check(q, prefix, mode, hits)
        return {"s": s, "ok": ok, "mode": mode, "recall": recall}

    def _exact(self, q: str, prefix: str | None):
        from docling_rag_spark.operators.embed import embed_texts
        qv = embed_texts([q])[0].astype(np.float64)
        scores = self.emb @ qv
        idx = np.arange(len(scores))
        if prefix:
            idx = np.array([j for j in idx
                            if self.urls[j].startswith(prefix)], dtype=int)
        return scores, idx

    def _check(self, q, prefix, mode, hits) -> tuple[bool, float]:
        """exact: top-k == numpy brute-force cosine over the embeddings,
        ordered by (score desc, url, chunk_id); ann: every hit's score is
        its true cosine. Also returns recall@k of the hits against exact."""
        scores, idx = self._exact(q, prefix)
        top = sorted(idx, key=lambda j: (-scores[j], self.urls[j],
                                         self.cids[j]))[:TOP_K]
        want = [(self.urls[j], int(self.cids[j])) for j in top]
        got = [(u, c) for u, c, _ in hits]
        key = {(self.urls[j], int(self.cids[j])): scores[j] for j in idx}
        recall = len(set(got) & set(want)) / TOP_K
        # every returned score is the hit's cosine, rounded to 4 places
        ok = all((u, c) in key and abs(key[(u, c)] - s) <= 1e-4 + 1e-9
                 for u, c, s in hits)
        if mode == "exact":
            # the service orders by the rounded score; ties that numpy and
            # Spark sum in a different order may swap at 1e-12
            want_sorted = sorted(
                want, key=lambda h: (-round(key[h], 4), h[0], h[1]))
            ok = ok and (got == want_sorted or (
                len(got) == len(want) and np.allclose(
                    sorted(key[h] for h in got),
                    sorted(key[h] for h in want), rtol=0, atol=1e-9)))
        return ok, recall

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()

    def record(self, ops: list[dict]) -> dict:
        m = {}
        for mode in ("exact", "ann"):
            lat = [o["s"] * 1000 for o in ops if o["mode"] == mode]
            m[f"search_{mode}_p50_ms"] = (median(lat), "ms")
            m[f"search_{mode}_samples"] = (len(lat), "count")
        return m

    def layers(self, ops: list[dict], log: dict) -> dict:
        sp, n = self.b.spans, len(ops)
        ann = [o["recall"] for o in ops if o["mode"] == "ann" and o["ok"]]
        tasks = eventlog.per_op([eventlog.in_window(log, *o["win"])
                                 for o in ops])["tasks"]
        # per-query means: the spans hold totals
        search_ms = sp.s("service") * 1000 / n
        topk_ms = sp.s("topk") * 1000 / n
        return {
            "operators.embed.query_ms": (sp.s("embed_topk")
                                         + sp.s("embed_ann")) * 1000 / n,
            "operators.search.topk_ms": topk_ms,
            "api.service.search_ms": search_ms,
            "api.service.decorate_ms": (search_ms - topk_ms
                                        - sp.s("embed_ann") * 1000 / n),
            "api.server.http_ms": sum(o["s"] for o in ops) * 1000 / n
            - search_ms,
            "spark.tasks_per_query": tasks,
            "plans.ann_index.build_s": self.index_meta["ann_build_s"],
            "plans.ann_index.recall_at_k": sum(ann) / len(ann) if ann else 0.0,
        }


# --- curate ------------------------------------------------------------------

class Curate(Workload):
    name = "curate"

    def setup(self) -> None:
        b = self.b
        self.wh = os.path.join(b.run_dir, "wh-curate")
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(b.fixture.wh, self.wh,
                        ignore=shutil.ignore_patterns("embeddings", "ann"))

    def op(self, i: int) -> dict:
        from docling_rag_spark.plans.curate import run_curation
        dest = os.path.join(self.b.run_dir, f"curate-{i}")
        t0 = time.perf_counter()
        r = run_curation(self.b.spark, self.wh, dest, require_stopwords=False)
        s = time.perf_counter() - t0
        got = {"report": r, "digest": _corpus_digest(dest)}
        shutil.rmtree(dest, ignore_errors=True)
        # run_curation promises byte-identical output over the same
        # warehouse: the first curation of this fixture is the reference
        ref = self.b.fixture.curate_reference()
        if ref is None:
            self.b.fixture.save_curate_reference(got)
        ok = ((ref is None or got == ref)
              and r["n_exact_dups_removed"] > 0
              and r["n_near_dups_removed"] > 0
              and r["n_corpus_docs"] * 2 > r["n_input"])
        return {"s": s, "ok": ok, "docs": r["n_input"], "report": r}

    def layers(self, ops: list[dict], log: dict) -> dict:
        c = eventlog.per_op([eventlog.in_window(log, *o["win"])
                             for o in ops])
        jobs = [eventlog.jobs_in_window(log, *o["win"]) for o in ops]
        r = ops[0]["report"]
        return {
            "spark.curate.task_s": c["task_s"],
            "spark.curate.task_max_s": c["task_max_s"],
            "spark.curate.shuffle_write_bytes": c["shuffle_write_bytes"],
            "spark.curate.jobs": median(jobs),
            "plans.curate.exact_dups_removed": r["n_exact_dups_removed"],
            "plans.curate.near_dups_removed": r["n_near_dups_removed"],
        }


def _corpus_digest(dest: str) -> str:
    t = _table(os.path.join(dest, "corpus"),
               ["shard_id", "url", "content_hash", "n_tokens"]).to_pydict()
    rows = sorted(zip(t["shard_id"], t["url"], t["content_hash"],
                      t["n_tokens"]))
    return hashlib.md5(repr(rows).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (Extract, Search, Curate)}
