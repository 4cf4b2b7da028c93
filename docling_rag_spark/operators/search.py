"""Top-k cosine retrieval over embedded chunks (reference §3.2 end-to-end).

Reproduces the reference search lifecycle (core/search.py:10-40,
storage/db_storage.py:119-147) Spark-first:

  * tri-state source filter (P1): ``allowed=None`` → no filter;
    ``allowed=∅`` → empty result *without touching storage* (plan-time
    branch, db_storage.py:127-128); else a broadcast semi-join on url;
  * empty-store guard (P5): no chunks at all → ``FileNotFoundError``
    (db_storage.py:131-133);
  * exact brute-force cosine top-k (O1): scores are ``dot(emb, q)`` on
    normalized vectors — the executable spec of the reference's fake
    (tests/fakes.py:61-63); pgvector's HNSW approximation is replaced by
    an exact ``TakeOrderedAndProject`` (top-k per partition, merge on the
    driver — no global sort, no shuffle of the data);
  * tag/topic predicate resolution (P2, core/search.py:26-40): docs where
    ALL requested tags are present and topic matches case-insensitively;
  * search log (S8): append-only (query, top_score, searched_at) parquet,
    deliberately FK-free (db_schema.py:39-46).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_rag_spark.operators.embed import embed_texts


def resolve_allowed_urls(documents: DataFrame,
                         tags: list[str] | None = None,
                         topic: str | None = None) -> DataFrame | None:
    """P2: None when no predicate; else the matching url set (may be empty)."""
    if not tags and topic is None:
        return None
    out = documents
    if tags:
        # ALL requested tags present (AND semantics, core/search.py:33-36)
        req = F.array(*[F.lit(t.lower()) for t in tags])
        out = out.filter(
            F.aggregate(req, F.lit(True),
                        lambda acc, t: acc & F.array_contains(
                            F.transform("tags", lambda x: F.lower(x)), t)))
    if topic is not None:
        out = out.filter(F.lower("topic") == topic.lower())
    return out.select("url")


def cosine_score(emb_col, q_col):
    """dot product on L2-normalized vectors == cosine (fakes.py:61)."""
    return F.aggregate(
        F.zip_with(emb_col, q_col,
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def vector_literal(vals) -> str:
    """A float vector (or nested lists of them) as one SQL
    ``array<…double>`` constant: a JSON string literal that ``from_json``
    parses and the optimizer folds. JSON carries each double's ``repr``,
    which round-trips exactly. ``F.lit(list)`` and ``F.array(*lits)`` cost
    one py4j round trip per component (256 for a query vector), and a SQL
    literal per element costs hundreds of ms of analysis per query at the
    ANN index's sizes; one string literal costs neither."""
    typ, v = "double", vals
    while isinstance(v, (list, tuple)):
        typ, v = f"array<{typ}>", v[0]
    return f"from_json('{json.dumps(vals)}', '{typ}')"


def search_chunks(spark: SparkSession,
                  chunk_embeddings: DataFrame,
                  query_text: str,
                  top_k: int = 5,
                  allowed_urls: DataFrame | None = None,
                  allowed_empty: bool = False,
                  store_is_empty: bool | None = None) -> DataFrame:
    """Exact top-k cosine search; mirrors run_search (core/search.py:10-23).

    ``allowed_empty=True`` is the resolved-∅ short-circuit: return an empty
    result WITHOUT scanning the chunk store (the reference returns before
    even constructing the embedder, cli/commands.py:171-174).

    ``store_is_empty``: pass the emptiness verdict of the cheap *source*
    table when ``chunk_embeddings`` is a derived pipeline (e.g. an
    on-the-fly embed over extraction output) — the default ``isEmpty()``
    probe would run a slice of that pipeline just to answer the P5 guard.
    """
    schema = "url string, chunk_id int, score double"
    if allowed_empty:
        return spark.createDataFrame([], schema)
    if store_is_empty is None:
        store_is_empty = chunk_embeddings.isEmpty()
    if store_is_empty:
        raise FileNotFoundError("no chunks in storage (reference "
                                "db_storage.py:131-133 contract)")
    q = embed_texts([query_text])[0].tolist()
    scored = chunk_embeddings
    if allowed_urls is not None:
        scored = scored.join(F.broadcast(allowed_urls), "url", "left_semi")
    scored = scored.select(
        "url", "chunk_id",
        cosine_score(F.col("embedding"),
                     F.expr(vector_literal(q))).alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("url"),
                          F.asc("chunk_id")).limit(top_k)


def format_search_results(results: "list[tuple[dict, float]]") -> str:
    """Deterministic half of the reference chat agent: compose top-k hits
    into the cited context block the LLM receives (core/agent.py:56-76 —
    ``[i] file (p.N, score=X.XX) [h1 > h2]`` header + chunk text, joined
    by blank lines; empty hits → the exact "No relevant documents found."
    sentinel). The LLM call itself is out of scope (same boundary as the
    X8 metadata stand-in); this string IS the /chat context payload."""
    if not results:
        return "No relevant documents found."
    parts = []
    for i, (meta, score) in enumerate(results, 1):
        source = str(meta.get("source_file", "")).rsplit("/", 1)[-1]
        page = meta.get("page_number")
        page = "?" if page is None else page
        headings = meta.get("headings") or []
        header = f"[{i}] {source} (p.{page}, score={score:.2f})"
        if headings:
            header += " [" + " > ".join(headings) + "]"
        parts.append(f"{header}\n{meta.get('text', '')}")
    return "\n\n".join(parts)


def log_search(out_dir: str, query: str, top_score: float | None) -> str:
    """S8: append (query, top_score, searched_at) to the searches log."""
    path = os.path.join(out_dir, "searches")
    os.makedirs(path, exist_ok=True)
    ts = dt.datetime.now(dt.timezone.utc)
    fname = os.path.join(path, f"part-{ts.timestamp():.6f}.parquet")
    # top_score=None (zero-hit search) must still write a float64 column:
    # a bare [None] lands as Arrow null type and poisons schema merge for
    # every later read of the unified searches table
    score = pd.array([top_score], dtype="float64")
    # coerce to microseconds: pandas' default TIMESTAMP(NANOS) parquet
    # type is illegal to Spark's reader, which made the table unreadable
    # by the engine that serves it
    pd.DataFrame({"query": [query], "top_score": score,
                  "searched_at": [ts]}).to_parquet(
        fname, coerce_timestamps="us", allow_truncated_timestamps=True)
    return fname
