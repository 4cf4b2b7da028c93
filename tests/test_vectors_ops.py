"""ANN recall evidence + materialized-index invariants.

The absolute recall numbers on the synthetic embeddings are LOW by nature:
the testdata vectors are near-uniform random directions (max pairwise
cosine ~0.5), so a true top-10 neighbour often sits outside the query's 4
probe cells. That is the honest measurement this corpus supports — real
embedding corpora cluster, which is what cell-pruned ANN exploits. What
these tests pin is (a) the served probe's recall is deterministic and
regression-visible, and (b) the materialized index agrees with the
driver-side probe math.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docling_rag_spark.operators import pq as PQ
from docling_rag_spark.plans import ann_index as AI

SF_DIR = "/root/testdata/sf0.001"
QUERIES = range(8)


def _probe_recall(spark, sf_dir: str) -> list[tuple[int, int]]:
    """(query id, |exact top-10 ∩ served-probe top-10|) for vec_ids 0..7,
    each query excluded from its own candidates."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist())
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    cos = X @ X.T / np.outer(np.linalg.norm(X, axis=1),
                             np.linalg.norm(X, axis=1))
    idx = AI.ensure_index(spark, sf_dir)
    out = []
    for qid in QUERIES:
        row = cos[list(ids).index(qid)]
        exact = [int(ids[j]) for j in sorted(
            (j for j in range(len(ids)) if ids[j] != qid),
            key=lambda j: (-row[j], ids[j]))[:10]]
        got = {r["vec_id"] for r in AI.probe(
            spark, idx, AI.query_vector(sf_dir, qid), ("vec_id",), 10,
            where=F.col("vec_id") != qid).collect()}
        out.append((qid, len(got & set(exact))))
    return out


def test_vec_recall_deterministic(spark):
    """Pinned per-query recall (4 of 16 cells; the retired sign-LSH
    multiprobe reached 0-2 of 10 on the same queries)."""
    assert _probe_recall(spark, SF_DIR) == [
        (0, 5), (1, 6), (2, 4), (3, 5), (4, 3), (5, 5), (6, 8), (7, 7)]


def test_index_partitions_match_python_probe_math(spark):
    """Every row in a cell partition must be assigned there by the
    driver-side PQ.coarse_assign, and carry PQ.encode's codes — otherwise
    the pruned probe scans would silently miss candidates."""
    idx = AI.ensure_index(spark, SF_DIR)
    side = AI.read_books(idx)
    rows = spark.read.parquet(f"{idx}/pq").select(
        "vec_id", "embedding", "codes", "cell").collect()
    assert rows
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    assert [r["cell"] for r in rows] == \
        PQ.coarse_assign(X, side["coarse"]).tolist()
    assert [list(r["codes"]) for r in rows] == \
        PQ.encode(X, side["books"]).astype(int).tolist()


def test_probe_cells_shape(spark):
    """_PQ_PROBES distinct cells, nearest first: the first probe is the
    query's own cell under PQ.coarse_assign, the rest follow by distance."""
    side = AI.read_books(AI.ensure_index(spark, SF_DIR))
    coarse = np.asarray(side["coarse"])
    for qid in QUERIES:
        q = AI.query_vector(SF_DIR, qid)
        probes = AI.probe_cells(q, side["coarse"])
        assert len(probes) == AI._PQ_PROBES == len(set(probes))
        assert probes[0] == PQ.coarse_assign([q], coarse)[0]
        d = PQ._fold_sq_dists(np.asarray([q]), coarse)[0]
        assert [d[c] for c in probes] == sorted(d[c] for c in probes)
        assert max(d[c] for c in probes) <= min(
            d[c] for c in range(len(coarse)) if c not in probes)


def test_recall_high_on_clustered_embeddings(spark, tmp_path):
    """The low absolute recalls above are a property of the near-uniform
    testdata, not the index: on CLUSTERED embeddings — the structure real
    embedding corpora have, and the case ANN exists for — the served probe
    recovers most of the exact top-10. 12 unit centroids + gaussian noise
    (sigma 0.03, within-cluster cosine ~0.97, i.e. near-dup-tier
    similarity); probes span 8 distinct clusters."""
    import pyarrow as pa

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 12, 125, 64
    cents = rng.normal(size=(n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    # vec_id i belongs to cluster i % n_clusters, so probe ids 0..7 all
    # sit in different clusters
    vecs = np.vstack([cents[i % n_clusters]
                      + rng.normal(scale=0.03, size=dim)
                      for i in range(n_clusters * per)])
    pq.write_table(
        pa.table({"vec_id": np.arange(n_clusters * per),
                  "label": np.arange(n_clusters * per) % n_clusters,
                  "embedding": list(vecs.astype(float))}),
        str(tmp_path / "embeddings.parquet"))

    recalls = [r for _q, r in _probe_recall(spark, str(tmp_path))]
    assert len(recalls) == 8
    assert np.mean(recalls) >= 7.0, recalls
