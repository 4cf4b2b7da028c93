"""Dependency-free HTTP server over the warehouse service functions.

Endpoint surface mirrors the reference's FastAPI app (api/app.py:198-333):

  GET    /health                          liveness
  GET    /search?q=..&k=..&url_prefix=..&mode=auto|exact|ann
                                          top-k retrieval (§3.2; mode=ann
                                          scans only 4 of the 16 IVF-PQ
                                          cells of <wh>/ann)
  GET    /documents?limit=..&url_prefix=  catalog listing
  GET    /status                          lineage/job rollup per snapshot
  GET    /jobs            + /jobs/<id>    async extraction job states
  POST   /extract {"pages_path": ..}      submit an extraction job
  POST   /chat {"message": ..}            cited RAG context + sources
                                          (deterministic half of the
                                          reference chat agent; no LLM)
  DELETE /documents?url=a&url=b           FK-cascade delete

stdlib http.server only (no web framework ships in this sandbox); the
Spark work happens in service.py. ThreadingHTTPServer + Spark's
thread-safe session handles concurrent reads; extraction jobs serialize
through JobRunner.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from docling_rag_spark.api import service


def make_server(spark: SparkSession, warehouse: str,
                host: str = "127.0.0.1", port: int = 0
                ) -> ThreadingHTTPServer:
    runner = service.JobRunner(spark, warehouse)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs; stderr noise only
            pass

        def _json(self, obj, code: int = 200) -> None:
            body = json.dumps(obj, ensure_ascii=False,
                              default=str).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _fail(self, exc: Exception) -> None:
            code = 404 if isinstance(exc, FileNotFoundError) else 500
            self._json({"error": f"{type(exc).__name__}: {exc}"}, code)

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            try:
                if u.path == "/health":
                    self._json({"status": "ok"})
                elif u.path == "/search":
                    if "q" not in q:
                        return self._json({"error": "missing q"}, 400)
                    mode = q.get("mode", ["auto"])[0]
                    if mode not in ("auto", "exact", "ann"):
                        # an unknown mode must 400, not silently fall back
                        # to a full exact scan the client didn't ask for
                        return self._json(
                            {"error": f"invalid mode {mode!r}; use "
                                      "auto|exact|ann"}, 400)
                    self._json({"results": service.search_warehouse(
                        spark, warehouse, q["q"][0],
                        top_k=int(q.get("k", ["5"])[0]),
                        url_prefix=q.get("url_prefix", [None])[0],
                        mode=mode)})
                elif u.path == "/documents":
                    self._json({"documents": service.documents_payload(
                        spark, warehouse,
                        limit=int(q.get("limit", ["100"])[0]),
                        url_prefix=q.get("url_prefix", [None])[0])})
                elif u.path == "/status":
                    self._json(service.status_payload(spark, warehouse))
                elif u.path == "/jobs":
                    self._json({"jobs": runner.jobs()})
                elif u.path.startswith("/jobs/"):
                    job = runner.job(u.path.rsplit("/", 1)[1])
                    self._json(job or {"error": "no such job"},
                               200 if job else 404)
                else:
                    self._json({"error": "not found"}, 404)
            except Exception as exc:
                self._fail(exc)

        def do_POST(self):
            u = urlparse(self.path)
            try:
                n = int(self.headers.get("Content-Length", "0"))
                payload = json.loads(self.rfile.read(n) or b"{}")
                if u.path == "/extract":
                    if "pages_path" not in payload:
                        return self._json({"error": "missing pages_path"},
                                          400)
                    job_id = runner.submit(
                        payload["pages_path"],
                        snapshot_id=payload.get("snapshot_id", "snap-0"),
                        num_buckets=(int(payload["num_buckets"])
                                     if "num_buckets" in payload
                                     else None))
                    self._json({"job_id": job_id}, 202)
                elif u.path == "/chat":
                    # reference POST /chat (api/app.py:145-176), minus the
                    # LLM: answer = the deterministic cited context block
                    if not payload.get("message"):
                        return self._json({"error": "missing message"}, 400)
                    self._json(service.chat_payload(
                        spark, warehouse, payload["message"],
                        top_k=int(payload.get("top_k", 3))))
                else:
                    self._json({"error": "not found"}, 404)
            except Exception as exc:
                self._fail(exc)

        def do_DELETE(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            try:
                if u.path == "/documents" and q.get("url"):
                    # serialized against extraction jobs via the runner's
                    # run-lock (mutating ops must not interleave)
                    self._json(runner.delete(q["url"]))
                else:
                    self._json({"error": "missing url"}, 400)
            except Exception as exc:
                self._fail(exc)

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(spark: SparkSession, warehouse: str,
                     host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; returns (server, base_url)."""
    srv = make_server(spark, warehouse, host, port)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://{srv.server_address[0]}:{srv.server_address[1]}"
