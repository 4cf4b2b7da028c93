"""ANN recall evidence + materialized-index invariants.

The absolute recall numbers on the synthetic embeddings are LOW by nature:
the testdata vectors are near-uniform random directions (max pairwise
cosine ~0.5), so true top-10 neighbors rarely share an 8-bit sign-LSH
bucket. That is the honest measurement this corpus supports — real
embedding corpora cluster, which is what bucketed ANN exploits. What these
tests pin is (a) the metric is deterministic and regression-visible, and
(b) the materialized index agrees with the driver-side probe math.
"""

from __future__ import annotations

from docling_rag_spark.queries.vectors import vec_recall_at_k

SF_DIR = "/root/testdata/sf0.001"


def test_vec_recall_deterministic(spark):
    rows = sorted(tuple(int(v) for v in r)
                  for r in vec_recall_at_k(spark, SF_DIR).collect())
    assert rows == [(0, 0), (1, 1), (2, 1), (3, 0), (4, 0), (5, 2), (6, 0),
                    (7, 1)]


def test_index_partitions_match_python_probe_math(spark):
    """Every row in a bucket partition must hash there under the
    driver-side py_bucket — otherwise the pruned probe scans would
    silently miss candidates."""
    from docling_rag_spark.plans import ann_index as AI

    idx = AI.ensure_index(spark, SF_DIR)
    lsh = spark.read.parquet(f"{idx}/lsh").select(
        "vec_id", "embedding", "bucket").collect()
    assert lsh
    for r in lsh:
        assert AI.py_bucket([float(v) for v in r["embedding"]]) == r["bucket"]


def test_multiprobe_buckets_shape():
    from docling_rag_spark.plans.ann_index import multiprobe_buckets
    probes = multiprobe_buckets(0b10110001)
    assert len(probes) == 9 and len(set(probes)) == 9
    assert probes[0] == 0b10110001
    assert all(bin(p ^ 0b10110001).count("1") <= 1 for p in probes)


def test_recall_high_on_clustered_embeddings(spark, tmp_path):
    """The low absolute recalls above are a property of the near-uniform
    testdata, not the index: on CLUSTERED embeddings — the structure real
    embedding corpora have, and the case ANN exists for — the same pruned
    paths recover most of the exact top-10. 12 unit centroids + gaussian
    noise (sigma 0.03, within-cluster cosine ~0.97, i.e. near-dup-tier
    similarity); probes span 8 distinct clusters; measured mean at this
    seed: multiprobe 8.0 of 10."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

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
                  "embedding": list(vecs.astype(float))}),
        str(tmp_path / "embeddings.parquet"))

    df = vec_recall_at_k(spark, str(tmp_path)).toPandas()
    assert len(df) == 8
    assert df["recall_multiprobe_at_10"].mean() >= 7.0
