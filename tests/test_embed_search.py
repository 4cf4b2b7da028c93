"""Embedder (X7) + search (O1/P1/P2/P5/S8) contract tests.

Ports the reference's search contracts: brute-force exact cosine spec
(tests/fakes.py:61-63), tri-state allowed filter (db_storage.py:127-146),
empty-store FileNotFoundError (db_storage.py:131-133), AND-tag resolution
(core/search.py:26-40), and the integration-shaped "query finds the
relevant doc" semantic check (tests/test_integration.py:18-68, threshold
scaled to the hashed random-projection embedder).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from docling_rag_spark.operators.embed import embed_chunks, embed_texts
from docling_rag_spark.operators.search import (
    log_search,
    resolve_allowed_urls,
    search_chunks,
)

DOCS = [
    ("u://a", 0, "database star schema with fact and dimension tables"),
    ("u://a", 1, "the query engine scans parquet with predicate pushdown"),
    ("u://b", 0, "cooking pasta requires salted boiling water"),
    ("u://b", 1, "simmer the tomato sauce with garlic and basil"),
    ("u://c", 0, "spark shuffles data between executors by partition key"),
]


@pytest.fixture(scope="module")
def chunk_emb(spark):
    df = spark.createDataFrame(
        [(u, c, t) for u, c, t in DOCS],
        "url string, chunk_id int, context_text string")
    return embed_chunks(df).cache()


def test_embedder_deterministic_and_normalized():
    m1 = embed_texts(["alpha beta", "alpha beta", ""])
    m2 = embed_texts(["alpha beta"])
    assert np.array_equal(m1[0], m1[1])
    assert np.array_equal(m1[0], m2[0])
    assert abs(float(np.linalg.norm(m1[0])) - 1.0) < 1e-5
    assert float(np.linalg.norm(m1[2])) == 0.0  # empty → zero vector


def test_embedder_cosine_orders_by_overlap():
    m = embed_texts(["star schema fact dimension",
                     "star schema fact tables",
                     "boiling pasta water"])
    sim_close = float(m[0] @ m[1])
    sim_far = float(m[0] @ m[2])
    assert sim_close > sim_far


def test_spark_embedding_matches_local(spark, chunk_emb):
    rows = {(r["url"], r["chunk_id"]): np.array(r["embedding"], np.float32)
            for r in chunk_emb.collect()}
    local = embed_texts([t for _, _, t in DOCS])
    for (u, c, t), vec in zip(DOCS, local):
        assert np.allclose(rows[(u, c)], vec, atol=1e-6), (u, c)


def test_search_topk_matches_numpy_oracle(spark, chunk_emb):
    got = search_chunks(spark, chunk_emb, "star schema query", top_k=3)
    rows = got.collect()
    # numpy brute force (the fakes.py:61-63 executable spec)
    mat = embed_texts([t for _, _, t in DOCS])
    q = embed_texts(["star schema query"])[0]
    scores = mat @ q
    order = sorted(range(len(DOCS)), key=lambda i: (-scores[i], DOCS[i][0],
                                                    DOCS[i][1]))[:3]
    want = [(DOCS[i][0], DOCS[i][1]) for i in order]
    assert [(r["url"], r["chunk_id"]) for r in rows] == want
    for r, i in zip(rows, order):
        assert abs(r["score"] - float(scores[i])) < 1e-5


def test_search_allowed_semi_join(spark, chunk_emb):
    allowed = spark.createDataFrame([("u://b",)], "url string")
    rows = search_chunks(spark, chunk_emb, "pasta water", top_k=5,
                         allowed_urls=allowed).collect()
    assert rows and all(r["url"] == "u://b" for r in rows)


def test_search_empty_allowed_short_circuits(spark):
    # ∅ allowed set: empty result WITHOUT touching (even empty) storage
    empty_store = spark.createDataFrame(
        [], "url string, chunk_id int, embedding array<float>")
    out = search_chunks(spark, empty_store, "q", allowed_empty=True)
    assert out.count() == 0


def test_search_empty_store_raises(spark):
    empty_store = spark.createDataFrame(
        [], "url string, chunk_id int, embedding array<float>")
    with pytest.raises(FileNotFoundError):
        search_chunks(spark, empty_store, "q")


def test_resolve_allowed_and_tags_topic(spark):
    docs = spark.createDataFrame(
        [("u://a", ["Db", "spark"], "Engineering"),
         ("u://b", ["cooking"], "Food"),
         ("u://c", ["db"], "engineering")],
        "url string, tags array<string>, topic string")
    assert resolve_allowed_urls(docs) is None  # tri-state: no predicate
    got = {r["url"] for r in
           resolve_allowed_urls(docs, tags=["DB"]).collect()}
    assert got == {"u://a", "u://c"}  # case-insensitive tag match
    got = {r["url"] for r in
           resolve_allowed_urls(docs, tags=["db", "spark"]).collect()}
    assert got == {"u://a"}  # AND semantics
    got = {r["url"] for r in
           resolve_allowed_urls(docs, topic="ENGINEERING").collect()}
    assert got == {"u://a", "u://c"}


def test_search_log_appends(spark, tmp_path):
    import math
    import os

    import pandas as pd
    p1 = log_search(str(tmp_path), "q1", 0.42)
    p2 = log_search(str(tmp_path), "q2", None)
    df = pd.concat([pd.read_parquet(p1), pd.read_parquet(p2)])
    assert set(df["query"]) == {"q1", "q2"}
    # a zero-hit search (top_score=None) must not poison the unified
    # table with an Arrow null-typed column: Spark reads both files as
    # one double-typed table
    sdf = spark.read.parquet(os.path.join(str(tmp_path), "searches"))
    assert dict(sdf.dtypes)["top_score"] == "double"
    rows = {r["query"]: r["top_score"] for r in sdf.collect()}
    assert abs(rows["q1"] - 0.42) < 1e-9
    assert rows["q2"] is None or math.isnan(rows["q2"])


def test_semantic_quality_end_to_end(spark, chunk_emb):
    """The reference's golden threshold (top_score > 0.3) shape: the query
    about databases must hit the database chunk first with a clearly
    positive score."""
    rows = search_chunks(spark, chunk_emb,
                         "fact and dimension tables star schema",
                         top_k=1).collect()
    assert rows[0]["url"] == "u://a" and rows[0]["chunk_id"] == 0
    assert rows[0]["score"] > 0.3


@pytest.fixture(scope="module")
def served_wh(spark, tmp_path_factory):
    """A 60-page warehouse with a bucketed embeddings table and the ANN
    index, as scripts/run_embed.py --ann-index leaves it."""
    from docling_rag_spark.plans import ann_index as AI
    from docling_rag_spark.plans.job import embed_warehouse, run_extraction
    from docling_rag_spark.sources.pages import write_pages_parquet

    root = tmp_path_factory.mktemp("served")
    pages = str(root / "pages.parquet")
    wh = str(root / "wh")
    write_pages_parquet(pages, 60)
    run_extraction(spark, pages, wh, num_buckets=8)
    emb = spark.read.parquet(embed_warehouse(spark, wh, num_buckets=8))
    AI.build_ann_index(spark, emb, os.path.join(wh, "ann"),
                       id_cols=("url", "chunk_id"))
    return wh


def test_ann_serving_path_matches_exact_on_probed_cells(spark, served_wh):
    """search_warehouse(mode='ann') over the materialized warehouse index:
    pruned to the query's 4 probe cells, ADC-ranked, exact cosine on the
    survivors; the top hit must agree with exact search whenever the
    exact winner lives in a probed cell (on this tiny corpus it does), and
    every hit's score is its exact cosine."""
    from docling_rag_spark.api import service
    from docling_rag_spark.plans import ann_index as AI

    wh = served_wh
    q = "star schema fact dimension tables"
    exact = service.search_warehouse(spark, wh, q, top_k=3, log=False,
                                     mode="exact")
    ann = service.search_warehouse(spark, wh, q, top_k=3, log=False,
                                   mode="ann")
    assert exact and ann
    q_vec = [float(v) for v in embed_texts([q])[0]]
    side = AI.read_books(os.path.join(wh, "ann"))
    probes = set(AI.probe_cells(q_vec, side["coarse"]))
    idx = {(r["url"], r["chunk_id"]): (r["cell"], r["embedding"])
           for r in spark.read.parquet(os.path.join(wh, "ann", "pq"))
           .select("url", "chunk_id", "cell", "embedding").collect()}
    top = exact[0]
    if idx[(top["url"], top["chunk_id"])][0] in probes:
        assert (ann[0]["url"], ann[0]["chunk_id"]) == \
               (top["url"], top["chunk_id"])
    # every ann hit comes from a probed cell and carries its exact cosine
    qv = np.asarray(q_vec, np.float64)
    for r in ann:
        cell, emb = idx[(r["url"], r["chunk_id"])]
        assert cell in probes
        e = np.asarray(emb, np.float64)
        assert abs(r["score"] - e @ qv / np.linalg.norm(e)
                   / np.linalg.norm(qv)) <= 1e-4
    # mode='ann' on a warehouse WITHOUT an index is an explicit error
    import pytest as _pytest
    os.rename(os.path.join(wh, "ann"), os.path.join(wh, "ann_bak"))
    try:
        with _pytest.raises(FileNotFoundError):
            service.search_warehouse(spark, wh, q, mode="ann", log=False)
    finally:
        os.rename(os.path.join(wh, "ann_bak"), os.path.join(wh, "ann"))


def test_embed_warehouse_runs_one_tagged_job(spark, spark_jobs, served_wh,
                                             tmp_path):
    """Embedding a warehouse is one Spark job, ``embed:write``: ``chunks``
    is read with its pinned schema, so no footer-inference job runs (and
    a mixed-era table keeps every column)."""
    import shutil

    from docling_rag_spark.plans.job import embed_warehouse

    wh = str(tmp_path / "wh")
    shutil.copytree(served_wh, wh)
    _, descs = spark_jobs(lambda: embed_warehouse(spark, wh))
    assert descs == ["embed:write"]


def test_ann_build_jobs_are_tagged(spark, spark_jobs, served_wh, tmp_path):
    """Every Spark job of an ANN index build (a first build: dimension
    probe, training sample, encode-and-write) is tagged ``ann:*``."""
    from docling_rag_spark.plans import ann_index as AI

    emb = spark.read.parquet(os.path.join(served_wh, "embeddings"))
    _, descs = spark_jobs(lambda: AI.build_ann_index(
        spark, emb, str(tmp_path / "ann"), id_cols=("url", "chunk_id")))
    assert descs and all(d and d.startswith("ann:") for d in descs), descs
    assert {"ann:train", "ann:write"} <= set(descs)


def test_search_launches_one_spark_job(spark, spark_jobs, served_wh,
                                       monkeypatch):
    """A search is one Spark job in either mode: the top-k collect, tagged
    ``search:topk``. The decorate reads the hit urls' bucket files on the
    driver, and the ANN path reads its index with the sidecar's declared
    schema, so neither launches a job. The caller's own description is
    back in place afterwards."""
    from docling_rag_spark.api import service

    sc = spark.sparkContext
    for mode in ("exact", "ann"):
        hits, descs = spark_jobs(lambda: service.search_warehouse(
            spark, served_wh, "star schema tables", log=False, mode=mode))
        assert hits, mode
        assert descs == ["search:topk"], (mode, descs)

    DataFrame = type(spark.range(1))
    real_collect = DataFrame.collect
    tags = []

    def tagged_collect(self):
        tags.append(sc.getLocalProperty("spark.job.description"))
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", tagged_collect)
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        service.search_warehouse(spark, served_wh, "star schema tables",
                                 log=False, mode="exact")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert tags == ["search:topk"]


def test_search_url_prefix_matches_numpy_oracle(spark, served_wh):
    """url_prefix filters the candidates themselves: exact mode equals a
    numpy brute-force top-k over the prefix-matching embeddings, ordered
    by (rounded score desc, url, chunk_id); every ann hit carries the
    prefix; a prefix that matches nothing returns no hits."""
    from docling_rag_spark.api import service

    q, k = "star schema fact tables", 5
    # a host the ANN probe reaches for this query, so both modes have hits
    first = service.search_warehouse(spark, served_wh, q, mode="ann",
                                     log=False)[0]["url"]
    prefix = "https://" + first.split("/")[2] + "/"
    rows = (spark.read.parquet(os.path.join(served_wh, "embeddings"))
            .select("url", "chunk_id", "embedding").collect())
    qv = embed_texts([q])[0].astype(np.float64)
    score = {(r["url"], r["chunk_id"]):
             float(np.asarray(r["embedding"], np.float64) @ qv)
             for r in rows if r["url"].startswith(prefix)}
    assert 0 < len(score) < len(rows)
    top = sorted(score, key=lambda h: (-score[h], h[0], h[1]))[:k]
    want = sorted(top, key=lambda h: (-round(score[h], 4), h[0], h[1]))

    got = service.search_warehouse(spark, served_wh, q, top_k=k,
                                   url_prefix=prefix, mode="exact",
                                   log=False)
    assert [(r["url"], r["chunk_id"]) for r in got] == want
    for r in got:
        assert abs(r["score"] - score[(r["url"], r["chunk_id"])]) <= 1e-4
        assert r["preview"] is not None
    ann = service.search_warehouse(spark, served_wh, q, top_k=k,
                                   url_prefix=prefix, mode="ann", log=False)
    assert ann and all(r["url"].startswith(prefix) for r in ann)
    for mode in ("exact", "ann"):
        assert service.search_warehouse(
            spark, served_wh, q, url_prefix="https://no-such.example/",
            mode=mode, log=False) == []


def test_search_empty_chunks_table_raises(spark, tmp_path):
    """P5 on a warehouse whose chunks table exists but holds no rows:
    FileNotFoundError from the service, HTTP 404 from the server."""
    import urllib.error
    import urllib.request

    from docling_rag_spark.api import service
    from docling_rag_spark.api.server import serve_background

    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [], "url string, chunk_id int, text string, context_text string, "
            "headings array<string>, page_number int, element_type string"
    ).write.parquet(os.path.join(wh, "chunks"))
    with pytest.raises(FileNotFoundError):
        service.search_warehouse(spark, wh, "star schema", log=False)
    srv, base = serve_background(spark, wh)
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(base + "/search?q=star+schema",
                                   timeout=120)
        assert err.value.code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def test_search_unpersists_hits_when_decorate_raises(spark, tmp_path,
                                                    monkeypatch):
    """A search whose driver-side decorate fails (here its pyarrow read)
    must leave no cached RDD behind, or every failed request would leak
    one for the life of the serving session."""
    import pyarrow.dataset as ds

    from docling_rag_spark.api import service
    from docling_rag_spark.plans.job import run_extraction
    from docling_rag_spark.sources.pages import write_pages_parquet

    pages = str(tmp_path / "pages.parquet")
    wh = str(tmp_path / "wh")
    write_pages_parquet(pages, 20)
    run_extraction(spark, pages, wh, num_buckets=4)

    def failing_dataset(*args, **kwargs):
        raise RuntimeError("decorate failed")

    def persistent_rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persistent_rdds()
    monkeypatch.setattr(ds, "dataset", failing_dataset)
    with pytest.raises(RuntimeError, match="decorate failed"):
        service.search_warehouse(spark, wh, "star schema fact tables",
                                 log=False, mode="exact")
    assert persistent_rdds() == before


def test_format_search_results_contract():
    """Port of the reference's citation formatting (core/agent.py:56-76):
    empty sentinel, [i] file (p.N, score=X.XX) [h1 > h2] headers with
    basename extraction, '?' for missing pages, blank-line joins."""
    from docling_rag_spark.operators.search import format_search_results

    assert format_search_results([]) == "No relevant documents found."
    out = format_search_results([
        ({"source_file": "/books/dv.pdf", "page_number": 42,
          "headings": ["Ch 2"], "text": "Data Vault uses hubs."}, 0.875),
        ({"source_file": "notes.md", "page_number": None,
          "headings": [], "text": "Second fact."}, 0.5),
    ])
    blocks = out.split("\n\n")
    assert blocks[0] == "[1] dv.pdf (p.42, score=0.88) [Ch 2]\n" \
                        "Data Vault uses hubs."
    assert blocks[1] == "[2] notes.md (p.?, score=0.50)\nSecond fact."
