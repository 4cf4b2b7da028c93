"""Materialized ANN index: IVF-PQ codes and raw vectors, physically
partitioned by trained coarse cell (Jégou et al., TPAMI 2011).

The reference's HNSW index (reference storage/db_schema.py:36-37) is a
*persistent* structure; this module is the only one that knows the layout
of its Spark-native analog:

    <index>/pq/cell=<0..15>/part-*.parquet   (id cols, codes, embedding)
    <index>/pq_books.json                    (coarse cells, PQ codebooks,
                                              row schema)

Only ``build_ann_index`` writes the books. It trains them on an md5
sample of its whole input when the index has none, or when its input
yields a larger sample than the published books saw; otherwise it encodes
with the published books, so a rebuild over the same rows keeps every
row's cell and codes. The delete cascade (plans/job.py) rewrites ``pq/``
without re-encoding.

A search (``probe``) computes its probe cells driver-side (the query vector
is a parameter, not a table row) and reads only those partitions of
``pq/``, in one job — Catalyst partition pruning, visible as
``PartitionFilters`` (plan-audited in tests/test_pq.py and
tests/test_plan_audit.py). ADC over the codes ranks the candidates, and
the exact cosine reranks the top ``_PQ_RERANK``. On Iceberg the layout is
an identity partition spec over ``cell``.

Every expression that carries trained or query constants is SQL over one
folded array constant per table (``operators.search.vector_literal``):
Spark evaluates it with the same left folds and first-argmin ties as
operators/pq.py's numpy reference, bit for bit.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import tempfile
import uuid

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.operators import pq as PQ
from docling_rag_spark.operators.search import vector_literal
from docling_rag_spark.session import job_description

BOOKS = "pq_books.json"
CELL = "cell"
_PQ_PROBES = 4    # cells scanned per query (4× pruning of PQ_COARSE_CELLS)
_PQ_RERANK = 128  # ADC candidates re-ranked with exact cosine


def query_vector(sf_dir: str, vec_id: int):
    """Driver-side fetch of one probe vector (in production the query
    vector arrives as a request parameter; reading it from the table is
    test plumbing, kept off the Spark critical path)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    t = t.filter(pc.equal(t["vec_id"], vec_id))
    if t.num_rows == 0:
        raise KeyError(f"vec_id {vec_id} not in {sf_dir}")
    return [float(v.as_py()) for v in t["embedding"][0].values]


# --- SQL expressions over trained / query constants --------------------------

def _fold(array_sql: str) -> str:
    """Left-fold sum of a double array from 0.0 — numpy's accumulation
    order in operators/pq.py."""
    return f"aggregate({array_sql}, 0D, (a, t) -> a + t)"


def _nearest(vec_sql: str, cents):
    """0-based index of ``vec``'s nearest centroid: squared L2 folded
    dimension by dimension, first argmin — operators/pq.py's
    _fold_sq_dists + np.argmin."""
    from pyspark.sql import functions as F

    d = F.expr(f"transform({vector_literal(cents)}, c -> " + _fold(
        f"zip_with({vec_sql}, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y))") + ")")
    return F.array_position(d, F.array_min(d)) - 1


def _encode(rows, side: dict, id_cols):
    """Index rows ``(id cols, codes, embedding, cell)`` under ``side``'s
    books: ``codes`` is one nearest-codeword byte per subspace."""
    from pyspark.sql import functions as F

    sd = PQ.subdim(side["dim"])
    codes = F.array(*[
        _nearest(f"slice(embedding, {m * sd + 1}, {sd})",
                 side["books"][m]).cast("tinyint")
        for m in range(PQ.PQ_M)])
    return rows.select(*id_cols, codes.alias("codes"), "embedding",
                       _nearest("embedding", side["coarse"])
                       .cast("int").alias(CELL))


def _adc_sql(q_vec, books) -> str:
    """floor(approximate cosine · 1e6) from the codes alone: each LUT is
    indexed by the subspace's code and folded over subspaces (operators/
    pq.py's adc_scores); a zero-norm reconstruction ranks last (null)."""
    dot_lut, norm2_lut = PQ.adc_tables(q_vec, books)

    def lut_sum(lut):
        return _fold(f"zip_with(codes, {vector_literal(lut)}, "
                     "(c, t) -> t[CAST(c AS INT)])")
    return (f"floor(try_divide({lut_sum(dot_lut)}, "
            f"sqrt({lut_sum(norm2_lut)})) * 1000000D)")


def _cosine_sql(q_vec) -> str:
    """Exact cosine of ``embedding`` with the query: one pass folds the
    dot and the squared norm, left to right, then divides by the product
    of the norms — the op order of queries/vectors.py's
    ``_dot(e, q) / (_norm(e) * _norm(q))``; 0 for a zero vector. The
    query's norm stays inside the fold's finish lambda: a top-level double
    literal is inlined into the generated code, and a new value per query
    would compile a new class per query."""
    q = [float(v) for v in q_vec]
    return (f"aggregate(zip_with(embedding, {vector_literal(q)}, (x, y) -> "
            "named_struct('dot', CAST(x AS DOUBLE) * y, "
            "'sq', CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
            "named_struct('dot', 0D, 'sq', 0D), "
            "(a, t) -> named_struct('dot', a.dot + t.dot, 'sq', a.sq + t.sq), "
            "a -> coalesce(try_divide(a.dot, sqrt(a.sq) * "
            f"{math.sqrt(PQ._py_dot(q, q))!r}D), 0D))")


# --- codebooks ---------------------------------------------------------------

def read_books(index_dir: str) -> dict | None:
    """The index's sidecar — ``dim``, ``coarse``, ``books``, the row
    ``schema`` and ``trained_on`` (the training sample's size) — or None
    when the index has none. JSON round-trips IEEE doubles exactly, so
    readers see the floats the writers encoded with."""
    try:
        with open(os.path.join(index_dir, BOOKS)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _books(rows, id_cols, side: dict | None) -> dict:
    """The books to encode ``rows`` with: the published ``side``, unless
    ``rows`` yield a larger training sample than it was trained on — then
    new books trained on that sample. Keeping the published books
    otherwise is what makes a rebuild over the same rows reproduce every
    row's cell and codes, and so the same answers.

    The sample is bounded and deterministic: the PQ_SAMPLE rows whose
    md5(id) sorts lowest (≈ 1 MiB collected via TakeOrdered, no shuffle).
    Hash order makes it a uniform pseudo-random subset of the whole input,
    where an id-ordered prefix would train on the oldest crawl slice only.
    Books trained on a full sample are final: no job is run for them."""
    import numpy as np
    from pyspark.sql import functions as F

    if side is not None and side.get("trained_on", 0) >= PQ.PQ_SAMPLE:
        return side
    key = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in id_cols]))
    sample = np.array([r[0] for r in rows.orderBy(key, *id_cols)
                       .limit(PQ.PQ_SAMPLE).select("embedding").collect()],
                      dtype=np.float64)
    if side is not None and len(sample) <= side.get("trained_on", 0):
        return side
    new = {"dim": int(sample.shape[1]), "trained_on": len(sample),
           "coarse": PQ.train_coarse(sample, PQ.PQ_COARSE_CELLS),
           "books": PQ.train_codebooks(sample)}
    new["schema"] = _encode(rows, new, id_cols).drop(CELL).schema.jsonValue()
    return new


# --- writers -----------------------------------------------------------------

def index_lock(index_dir: str, timeout: float):
    """The lock held by every writer that swaps ``index_dir`` or its
    table: the compaction lock of the dir beside it
    (``warehouse.compaction_lock``) — for a warehouse's ``ann`` index the
    warehouse's own. Its holders are the build's delete check and swap,
    ``_recover``, the delete cascade (plans/job.py) and, through
    ``compaction_lock``, a whole rebucket (plans/maintenance.py)."""
    return wh.compaction_lock(os.path.dirname(os.path.abspath(index_dir)),
                              timeout)


def build_ann_index(spark, embeddings_df, out_dir: str,
                    id_cols: tuple[str, ...] = ("vec_id", "label")) -> None:
    """(Re)build the index at ``out_dir`` from ``embeddings_df``, carrying
    ``id_cols`` alongside the vectors (the serving tier indexes by natural
    key (url, chunk_id); the oracle tables by (vec_id, label)).

    Encodes with the index's published books, or — when it has none, or
    this input yields a larger training sample than they were trained on
    (a corpus grown past a small first build) — with books retrained on
    this input. Writes ``pq/`` and the sidecar into a sibling temp dir in
    one map-only job (partitionBy splits files per task; at 10^9+ vectors
    add ``.repartition(n, 'cell')`` first) and swaps that dir into place
    under the index lock: a concurrent search sees the old index or the
    new one, never a half-written ``pq/``, and whatever else the old dir
    held is gone.

    A ``delete_urls`` of the warehouse beside ``out_dir`` that started
    after this build's first read cascades into the old index only; the
    new one may still hold its rows. The swap then raises
    ``CommitConflict`` and keeps the old index: rerun the build.

    Its Spark jobs are tagged ``ann:train`` (the dimension probe and the
    training sample) and ``ann:write`` (the encode-and-write job)."""
    from pyspark.sql import functions as F

    read_ts = wh.now()
    rows = embeddings_df.select(*id_cols, "embedding")
    with job_description(spark, "ann:train"):
        first = rows.select(F.size("embedding").alias("d")).first()
        if first is None:
            raise ValueError(f"no embeddings to index into {out_dir}")
        _recover(out_dir)  # a half-done swap must not read as "no books"
        side = read_books(out_dir)
        if side is not None and side["dim"] != first["d"]:
            raise ValueError(
                f"{out_dir} holds books for dim {side['dim']}, rows have "
                f"dim {first['d']}; remove it to retrain")
        side = _books(rows, id_cols, side)
    head, name = os.path.split(os.path.abspath(out_dir))
    tmp = os.path.join(head, f".{name}.build-{uuid.uuid4().hex[:12]}")
    try:
        with job_description(spark, "ann:write"):
            (_encode(rows, side, id_cols).write.partitionBy(CELL)
             .mode("overwrite").parquet(os.path.join(tmp, "pq")))
        with open(os.path.join(tmp, BOOKS), "w") as f:
            json.dump(side, f)
        with index_lock(out_dir, timeout=60.0):
            deleted = sorted({
                r["bucket"] for r in wh.read_lineage(head)
                if r["input_snapshot_id"].startswith("delete-")
                and r["started_at"] >= read_ts})
            if deleted:
                raise wh.CommitConflict(deleted, f"ann-build {out_dir}")
            wh.swap_dir(tmp, out_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- search ------------------------------------------------------------------

def probe_cells(q_vec, coarse, n: int = _PQ_PROBES) -> list[int]:
    """The ``n`` cells nearest the query, ranked by (squared L2, cell) —
    the metric and tie rule the cell assignment uses, so the first probe
    is the query's own cell."""
    import numpy as np

    d = PQ._fold_sq_dists(np.asarray([q_vec], dtype=np.float64),
                          np.asarray(coarse, dtype=np.float64))[0]
    return sorted(range(len(coarse)), key=lambda c: (d[c], c))[:n]


def _recover(index_dir: str) -> None:
    """Restore a swap of the index dir or its table that a crashed writer
    left half-done. Waits briefly for the index lock, so it never races a
    live swap; a caller that cannot get it sees what is visible. An index
    whose ``pq/`` is in place has nothing to restore and takes no lock."""
    if os.path.isdir(os.path.join(index_dir, "pq")):
        return
    try:
        with index_lock(index_dir, timeout=2.0):
            wh.recover_swap(index_dir)
            wh.recover_swap(os.path.join(index_dir, "pq"))
    except TimeoutError:
        pass


def open_index(index_dir: str) -> dict:
    """The index's sidecar, read after crash recovery."""
    _recover(index_dir)
    side = read_books(index_dir)
    if side is None:
        raise FileNotFoundError(
            f"no ANN index at {index_dir}; run scripts/run_embed.py "
            "--ann-index first")
    return side


def has_rows(index_dir: str) -> bool:
    """Whether the index table exists. Books alone hold nothing to search:
    a delete cascade removes a table none of whose rows survive, and the
    books stay."""
    return os.path.isdir(os.path.join(index_dir, "pq"))


def probe(spark, index_dir: str, q_vec, id_cols, k: int, where=None):
    """Approximate top-``k`` of the index for ``q_vec``: the probe cells'
    rows, read with the sidecar's declared schema (no footer job) and
    partition-pruned to those cells, filtered by ``where`` before ranking,
    ranked by ADC; the top ``_PQ_RERANK`` by (ADC desc, ids) are reranked
    by exact cosine. Returns ``(id cols, score, pq_score_e6)`` ordered by
    (floor(score · 1e6) desc, ids) — ``score`` is the exact cosine, ranked
    at the oracles' micro-unit resolution so near-ties resolve by id.
    Map-only: scan → project → TakeOrdered(R) → project → TakeOrdered(k).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    side = open_index(index_dir)
    if not has_rows(index_dir):
        raise FileNotFoundError(f"ANN index {index_dir} has no rows")
    rows = (spark.read.schema(
        T.StructType.fromJson(side["schema"]).add(CELL, T.IntegerType()))
        .parquet(os.path.join(index_dir, "pq"))
        .filter(F.col(CELL).isin(probe_cells(q_vec, side["coarse"]))))
    if where is not None:
        rows = rows.filter(where)
    cand = rows.select(*id_cols, "embedding",
                       F.expr(_adc_sql(q_vec, side["books"]))
                       .alias("pq_score_e6"))
    cand = cand.orderBy(F.desc("pq_score_e6"), *id_cols).limit(_PQ_RERANK)
    return (cand.select(*id_cols, F.expr(_cosine_sql(q_vec)).alias("score"),
                        "pq_score_e6")
            .orderBy(F.desc(F.floor(F.col("score") * 1000000.0)), *id_cols)
            .limit(k))


def ensure_index(spark, sf_dir: str) -> str:
    """Build-once cache of the materialized index for a source embeddings
    table, keyed by (path, mtime, size) — rebuilt when the source changes.
    Atomic: built under a unique tmp dir, renamed into place, so a racing
    second builder either sees the finished index or builds its own and
    loses the rename harmlessly."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    # key = <path-hash>-<state-hash>: the path part lets a new build prune
    # its predecessors for the SAME source (each refresh of the testdata
    # would otherwise leave another multi-hundred-MB dead index behind)
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    state_key = hashlib.md5(
        f"{st.st_mtime_ns}|{st.st_size}|v6".encode()).hexdigest()[:12]
    key = f"{path_key}-{state_key}"
    root = os.environ.get("SPARK_GRAFT_ANN_DIR",
                          os.path.join(tempfile.gettempdir(),
                                       "spark_graft_ann"))
    final = os.path.join(root, key)
    if has_rows(final) and os.path.isfile(os.path.join(final, BOOKS)):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".build-{uuid.uuid4().hex[:12]}")
    build_ann_index(spark, spark.read.parquet(src), tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # lost the race: another builder finished first
        shutil.rmtree(tmp, ignore_errors=True)
    # prune stale indexes of the same source (older mtime/size states) —
    # only past a grace period: another live process may still be scanning
    # the predecessor, and yanking its parquet mid-query fails that query
    import time
    for d in os.listdir(root):
        stale = (d.startswith(f"{path_key}-") and d != os.path.basename(final))
        # crashed builders leave full .build-* trees behind; a LIVE build
        # is writing constantly, so an old mtime marks it abandoned
        orphan = ".build-" in d
        if stale or orphan:
            stale_path = os.path.join(root, d)
            try:
                if time.time() - os.stat(stale_path).st_mtime > 3600:
                    shutil.rmtree(stale_path, ignore_errors=True)
            except FileNotFoundError:
                pass
    return final
