"""Incremental ANN-index maintenance: cell-partitioned delta appends,
pruned probes, compaction parity, when and on what the codebooks train."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import batch_dirs
from docling_rag_spark.plans import ann_index as AI
from docling_rag_spark.sources.pages import PAGES_ARROW_SCHEMA, generate_pages
from docling_rag_spark.streaming.embed_index import (
    compact_ann_index,
    stream_embed_index,
)


# generated pages whose chunks exceed MIN_TRAIN (pinned in the tests)
N_FIRST = 120
ONE_TS = pd.Timestamp("2024-01-01", tz="UTC")


def _write_slice(df, path):
    table = pa.Table.from_pandas(df, schema=PAGES_ARROW_SCHEMA,
                                 preserve_index=False)
    pq.write_table(table, path)


def _drain(spark, pages_dir, out, ckpt):
    q = stream_embed_index(spark, pages_dir, out, ckpt)
    assert q.awaitTermination(180), "stream did not drain"


def _index_rows(spark, out):
    """Every row of the warehouse's index: ``ann/pq`` plus the deltas."""
    ann, delta = os.path.join(out, "ann"), os.path.join(out, "ann_delta")
    parts = [spark.read.parquet(os.path.join(ann, "pq"))]
    if batch_dirs(delta):
        parts.append(spark.read.option("basePath", delta).parquet(delta)
                     .drop("batch"))
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def test_stream_embed_index_deltas_and_compaction(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)

    # the first drop holds MIN_TRAIN+ chunks: it builds the index; each
    # later drop is one micro-batch and appends its own delta
    all_pages = generate_pages(N_FIRST + 30, include_fixtures=False)
    for i, sl in enumerate((slice(0, N_FIRST), slice(N_FIRST, N_FIRST + 15),
                            slice(N_FIRST + 15, None))):
        _write_slice(all_pages.iloc[sl],
                     os.path.join(pages_dir, f"p{i}.parquet"))
        _drain(spark, pages_dir, out, ckpt)

    delta = os.path.join(out, "ann_delta")
    batches = [d for d in os.listdir(delta) if d.startswith("batch=")]
    assert len(batches) == 2

    # base + delta rows ARE the embeddings rows, cell-partitioned
    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    all_idx = _index_rows(spark, out)
    assert all_idx.count() == emb.count()
    ann = os.path.join(out, "ann")
    assert sorted(os.listdir(ann)) == ["pq", AI.BOOKS]
    side = AI.read_books(ann)

    # pruned probe: candidates for a cell set == brute filter over all
    some = [r["cell"] for r in
            all_idx.select("cell").distinct().limit(3).collect()]
    got = AI.cell_rows(spark, ann, side, some, delta)
    want = all_idx.filter(F.col("cell").isin(some))
    assert got.count() == want.count() > 0

    # default compaction leaves the newest delta (the only batch a
    # crashed stream can replay); candidate set unchanged either way
    before = sorted(r["url"] + str(r["chunk_id"]) for r in got.collect())
    rep = compact_ann_index(spark, out)
    assert rep["compacted_batches"] == len(batches) - 1
    left = [d for d in os.listdir(delta) if d.startswith("batch=")]
    assert len(left) == 1
    mid_df = AI.cell_rows(spark, ann, side, some, delta)
    assert before == sorted(r["url"] + str(r["chunk_id"])
                            for r in mid_df.collect())
    # a drained stream may fold everything with include_newest=True
    rep = compact_ann_index(spark, out, include_newest=True)
    assert rep["compacted_batches"] == 1
    left = [d for d in os.listdir(delta) if d.startswith("batch=")] \
        if os.path.isdir(delta) else []
    assert left == []
    after_df = AI.cell_rows(spark, ann, side, some, delta)
    after = sorted(r["url"] + str(r["chunk_id"]) for r in after_df.collect())
    assert before == after


def test_compaction_preserves_topk_and_recall(spark, tmp_path):
    """VERDICT r3 task 7: compaction must not move the answer. On
    clustered embeddings (the structure ANN exists for), the served probe's
    top-10 through base + 4 cell deltas is computed, the index is
    compacted, and the SAME candidate sets and top-10 must come back from
    the folded layout; recall vs the exact brute force holds the same
    floor as the batch-index test
    (test_vectors_ops.py::test_recall_high_on_clustered_embeddings)."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_clusters, per, dim = 12, 100, 64
    cents = rng.normal(size=(n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = np.vstack([cents[i % n_clusters]
                      + rng.normal(scale=0.03, size=dim)
                      for i in range(n_clusters * per)])
    n = len(vecs)
    out = str(tmp_path / "wh")
    ann, delta = os.path.join(out, "ann"), os.path.join(out, "ann_delta")
    ids = ("vec_id",)

    def rows(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in vecs[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<float>")

    AI.build_ann_index(spark, rows(0, 800), ann, id_cols=ids)   # base
    for b, lo in enumerate(range(800, n, 100)):                  # 4 deltas
        AI.write_delta(rows(lo, lo + 100), ann,
                       os.path.join(delta, f"batch={b}"), id_cols=ids)

    queries = [[float(x) for x in vecs[i]] for i in range(8)]
    side = AI.read_books(ann)

    def answers():
        cands, tops = [], []
        for q in queries:
            cells = AI.probe_cells(q, side["coarse"])
            cands.append(sorted(r["vec_id"] for r in AI.cell_rows(
                spark, ann, side, cells, delta).collect()))
            tops.append([r["vec_id"] for r in AI.probe(
                spark, ann, q, ids, 10, delta_dir=delta).collect()])
        return cands, tops

    pre_cands, pre = answers()
    rep = compact_ann_index(spark, out, include_newest=True)
    assert rep["compacted_batches"] == 4
    assert not os.listdir(delta)
    post_cands, post = answers()
    assert pre_cands == post_cands, "compaction changed a candidate set"
    assert pre == post, "compaction changed the top-k answer"

    # absolute recall floor vs exact brute force (numpy)
    norms = np.linalg.norm(vecs, axis=1)
    recalls = []
    for i, q in enumerate(queries):
        qv = np.asarray(q)
        exact = np.argsort(-(vecs @ qv) / (norms * np.linalg.norm(qv)))[:10]
        recalls.append(len(set(post[i]) & set(int(x) for x in exact)))
    assert np.mean(recalls) >= 7.0, recalls


def _coded(df):
    return {(r["url"], r["chunk_id"]): (r["cell"], list(r["codes"]))
            for r in df.select("url", "chunk_id", "cell", "codes").collect()}


def test_stream_trains_books_once_and_rebuild_reencodes_deltas(spark,
                                                               tmp_path):
    """A stream into a warehouse with no index trains the codebooks once,
    on the micro-batch that first brings MIN_TRAIN rows, and never again.
    A later build_ann_index over more rows retrains them on its larger
    sample and re-encodes the deltas with the new books, so base and delta
    rows of the same chunk carry the same cell and codes; a build over no
    more rows than the books saw keeps them."""
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    ann, delta = os.path.join(out, "ann"), os.path.join(out, "ann_delta")
    emb_dir = os.path.join(out, "embeddings")
    os.makedirs(pages_dir)

    all_pages = generate_pages(N_FIRST + 15, include_fixtures=False)
    books = []
    for i, sl in enumerate((slice(0, N_FIRST), slice(N_FIRST, None))):
        _write_slice(all_pages.iloc[sl],
                     os.path.join(pages_dir, f"p{i}.parquet"))
        _drain(spark, pages_dir, out, ckpt)
        books.append(AI.read_books(ann))
    assert books[0] is not None and books[1] == books[0]
    n_first = spark.read.parquet(os.path.join(emb_dir, "batch=0")).count()
    assert books[0]["trained_on"] == n_first

    emb = spark.read.parquet(emb_dir)
    AI.build_ann_index(spark, emb, ann, id_cols=("url", "chunk_id"),
                       delta_dir=delta)
    rebuilt = AI.read_books(ann)
    assert rebuilt != books[0] and rebuilt["trained_on"] == emb.count()
    assert sorted(os.listdir(ann)) == ["pq", AI.BOOKS]
    base = _coded(spark.read.parquet(os.path.join(ann, "pq")))
    deltas = _coded(spark.read.option("basePath", delta).parquet(delta))
    assert deltas and all(base[k] == v for k, v in deltas.items())

    AI.build_ann_index(spark, emb, ann, id_cols=("url", "chunk_id"),
                       delta_dir=delta)
    assert AI.read_books(ann) == rebuilt


def test_stream_does_not_train_on_a_small_first_batch(spark, tmp_path):
    """A first micro-batch of one chunk must not decide the books (k-means
    would publish one cell and one codeword per subspace): the stream
    writes no index until embeddings/ holds MIN_TRAIN rows, then trains on
    all of them — the same 16 cells and books a build over those rows
    trains, with every row indexed — so the served answers equal the
    build's."""
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    ann = os.path.join(out, "ann")
    emb_dir = os.path.join(out, "embeddings")
    os.makedirs(pages_dir)

    one = generate_pages(1, include_fixtures=False).iloc[:0]
    one.loc[0] = ["https://one.example/a.md", ONE_TS,
                  b"# One\n\nA single short paragraph.\n", None, "en"]
    _write_slice(one, os.path.join(pages_dir, "p0.parquet"))
    _drain(spark, pages_dir, out, ckpt)
    assert spark.read.parquet(emb_dir).count() == 1
    assert AI.read_books(ann) is None
    assert not AI.has_rows(ann, os.path.join(out, "ann_delta"))

    _write_slice(generate_pages(N_FIRST, include_fixtures=False),
                 os.path.join(pages_dir, "p1.parquet"))
    _drain(spark, pages_dir, out, ckpt)
    side = AI.read_books(ann)
    emb = spark.read.parquet(emb_dir)
    assert len(side["coarse"]) == 16 == AI.PQ.PQ_COARSE_CELLS
    assert side["trained_on"] == emb.count() >= AI.MIN_TRAIN
    assert _index_rows(spark, out).count() == emb.count()

    fresh = str(tmp_path / "fresh")
    AI.build_ann_index(spark, emb, fresh, id_cols=("url", "chunk_id"))
    assert AI.read_books(fresh) == side
    for vec in emb.orderBy("url", "chunk_id").limit(3).collect():
        q = [float(x) for x in vec["embedding"]]
        assert (AI.probe(spark, ann, q, ("url", "chunk_id"), 10).collect()
                == AI.probe(spark, fresh, q, ("url", "chunk_id"),
                            10).collect())


def test_probe_collapses_a_replayed_delta(spark, tmp_path):
    """A micro-batch replayed after compaction folded it sits both in the
    base table and as a delta; the served top-k must list each row once
    and equal the answer without the replayed copy."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(300, 64))
    ann, delta = str(tmp_path / "ann"), str(tmp_path / "ann_delta")
    ids = ("vec_id",)

    def rows(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in vecs[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<float>")

    AI.build_ann_index(spark, rows(0, 300), ann, id_cols=ids)
    q = [float(x) for x in vecs[7]]
    want = [tuple(r) for r in AI.probe(spark, ann, q, ids, 10).collect()]
    AI.write_delta(rows(0, 300), ann, os.path.join(delta, "batch=0"),
                   id_cols=ids)
    got = [tuple(r) for r in AI.probe(spark, ann, q, ids, 10,
                                      delta_dir=delta).collect()]
    assert got == want
    assert len({r[0] for r in got}) == 10
