"""IVF-PQ: Spark ≡ numpy-reference parity, recall floor, plan shape.

The PQ twin is code, not SQL (data-trained codebooks can't live in a
static DuckDB string), so the parity bar is higher than hash-match: the
reference in operators/pq.py re-implements the exact left-fold /
first-argmin numerics of the Spark expressions and must reproduce the
result rows bit-for-bit, twice (determinism).
"""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.operators import pq as PQ
from docling_rag_spark.plans import ann_index as AI
from docling_rag_spark.queries import vectors as V

SF_DIR = "/root/testdata/sf0.01"
QID = 0


def _table():
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                      columns=["vec_id", "label", "embedding"])
    vec_ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    labels = np.asarray(t["label"].to_pylist(), dtype=np.int64)
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    return vec_ids, labels, X


def _py_floor_cos_e6(x, q):
    """floor(dot/(norm_x*norm_q)*1e6) with the exact op order of the
    Spark expression in queries/vectors.py."""
    import math
    dot = PQ._py_dot(x, q)
    nx = math.sqrt(PQ._py_dot(x, x))
    nq = math.sqrt(PQ._py_dot(q, q))
    return int(math.floor(dot / (nx * nq) * 1000000.0))


def reference_topk(spark):
    """Pure-python/numpy re-computation of vec_ivf_pq_topk."""
    import math
    vec_ids, labels, X = _table()
    q_emb = AI.query_vector(SF_DIR, QID)
    side = AI.read_books(AI.ensure_index(spark, SF_DIR))  # identical floats
    coarse, books = side["coarse"], side["books"]
    dot_lut, norm2_lut = PQ.adc_tables(q_emb, books)
    q_cell_d = PQ._fold_sq_dists(np.asarray([q_emb]),
                                 np.asarray(coarse))[0]
    probes = set(sorted(range(len(coarse)),
                        key=lambda c: (q_cell_d[c], c))[:AI._PQ_PROBES])
    cells = PQ.coarse_assign(X, coarse)
    keep = np.array([c in probes and v != QID
                     for v, c in zip(vec_ids, cells)])
    vec_ids, labels, X = vec_ids[keep], labels[keep], X[keep]
    codes = PQ.encode(X, books)
    approx = PQ.adc_scores(codes, dot_lut, norm2_lut)
    pq_e6 = np.array([int(math.floor(a * 1000000.0)) for a in approx])
    order = sorted(range(len(vec_ids)), key=lambda i: (-pq_e6[i],
                                                       vec_ids[i]))
    cand = order[:AI._PQ_RERANK]
    scored = [(int(vec_ids[i]), int(labels[i]),
               _py_floor_cos_e6(X[i], q_emb), int(pq_e6[i])) for i in cand]
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:V._TOPK]


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = V.vec_ivf_pq_topk(spark, SF_DIR)
    rows = [(r.vec_id, r.label, r.score_e6, r.pq_score_e6)
            for r in df.collect()]
    return rows


def test_pq_matches_numpy_reference_bitwise(spark, spark_rows):
    assert spark_rows == reference_topk(spark)


def test_pq_deterministic_rerun(spark, spark_rows):
    again = [(r.vec_id, r.label, r.score_e6, r.pq_score_e6)
             for r in V.vec_ivf_pq_topk(spark, SF_DIR).collect()]
    assert again == spark_rows


def test_pq_recall_floor_vs_exact(spark, spark_rows):
    """recall@10 vs the exact brute-force top-10 on the NEAR-UNIFORM
    testdata (max pairwise cosine ~0.5 — neighbors barely above random
    background, the worst case for any pruned ANN; same caveat as
    tests/test_vectors_ops.py, where the served probe pins its
    per-query recall on this corpus). Measured 0.8 at 4-of-16-cell
    pruning; floor 0.7. The clustered-corpus test below pins the
    structure-present case at ≥0.9."""
    exact = {r.vec_id for r in V.vec_topk_cosine(spark, SF_DIR).collect()}
    got = {r[0] for r in spark_rows}
    assert len(exact & got) / len(exact) >= 0.7


def test_pq_recall_high_on_clustered_embeddings(spark, tmp_path):
    """On CLUSTERED embeddings (12 unit centroids + sigma-0.03 noise —
    the structure real embedding corpora have; same generator as
    tests/test_vectors_ops.py) the trained coarse quantizer aligns cells
    with clusters and IVF-PQ recovers the exact top-10."""
    import pyarrow as pa

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 12, 125, 64
    cents = rng.normal(size=(n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = np.vstack([cents[i % n_clusters]
                      + rng.normal(scale=0.03, size=dim)
                      for i in range(n_clusters * per)])
    pq.write_table(
        pa.table({"vec_id": np.arange(n_clusters * per),
                  "label": np.arange(n_clusters * per) % n_clusters,
                  "embedding": list(vecs.astype(float))}),
        str(tmp_path / "embeddings.parquet"))

    got = {r.vec_id
           for r in V.vec_ivf_pq_topk(spark, str(tmp_path)).collect()}
    exact = {r.vec_id
             for r in V.vec_topk_cosine(spark, str(tmp_path)).collect()}
    assert len(exact & got) / len(exact) >= 0.9


def test_pq_adc_orders_before_exact_rerank(spark_rows):
    """The ADC stage must do real ranking work: every returned row's
    approximate score is sane (within 0.35e6 of exact — 4-bit codes are
    coarse but not random) and pq_score_e6 is non-constant."""
    assert len({r[3] for r in spark_rows}) > 1
    for _vid, _lbl, exact_e6, pq_e6 in spark_rows:
        assert abs(exact_e6 - pq_e6) < 350000, (exact_e6, pq_e6)


def test_pq_plan_is_maponly_takeordered(spark):
    """No shuffle anywhere: pruned cells scan → project(ADC via LUTs) →
    TakeOrdered(R) → project(exact cosine) → TakeOrdered(k). A hash/range
    repartition here would mean the design regressed to a shuffle."""
    plan = V.vec_ivf_pq_topk(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_pq_scan_is_partition_pruned_codes_only(spark):
    """The candidate-ranking scan must read only the probe cells'
    partitions of the index: the executed scan selects exactly _PQ_PROBES
    of PQ_COARSE_CELLS partitions (Catalyst recorded a PartitionFilter on
    cell), and it is the plan's only parquet scan — codes and the rerank's
    raw vectors come from the same pruned cells."""
    import re

    df = V.vec_ivf_pq_topk(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.length())
             if "parquet" in leaves.apply(i).nodeName().lower()]
    assert len(scans) == 1, [s.toString() for s in scans]
    assert "/pq" in scans[0].toString(), "index not in the scan at all"
    n_sel = scans[0].selectedPartitions().partitionCount()
    assert n_sel == AI._PQ_PROBES, n_sel
    fplan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert re.search(r"PartitionFilters: \[.*cell", fplan), fplan


def test_codebook_training_deterministic():
    _ids, _lbl, X = _table()
    b1 = PQ.train_codebooks(X[:300])
    b2 = PQ.train_codebooks(X[:300].copy())
    assert b1 == b2


def test_encode_first_argmin_tie_rule():
    """Duplicate centroids force ties; both engines must pick the first."""
    books = [[[0.0] * 8, [0.0] * 8] + [[9.0] * 8] * 14 for _ in range(8)]
    codes = PQ.encode(np.zeros((3, 64)), books)
    assert codes.max() == 0  # first of the two identical zero centroids


def test_rebuild_swaps_in_exactly_the_pq_index(spark, tmp_path):
    """A (re)build replaces the whole index dir: the retired ``lsh/`` and
    pre-IVF-PQ ``ivf/`` tables an older build left there are gone, and no
    temp dir survives beside it. A rebuild over a larger input retrains
    the books on its larger sample; one over no more rows than they were
    trained on keeps them."""
    ann = tmp_path / "ann"
    for stale in ("lsh/bucket=3", "ivf/cell=1"):
        (ann / stale).mkdir(parents=True)
        (ann / stale / "part-0.parquet").write_bytes(b"stale")
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    half = emb.filter("vec_id % 2 = 0")
    AI.build_ann_index(spark, half, str(ann))
    assert sorted(p.name for p in ann.iterdir()) == ["pq", AI.BOOKS]
    assert AI.read_books(str(ann))["trained_on"] == half.count()

    AI.build_ann_index(spark, emb, str(ann))
    books = AI.read_books(str(ann))
    assert books["trained_on"] == emb.count() > half.count()
    fresh = AI.read_books(AI.ensure_index(spark, sf))
    assert [books[k] for k in ("coarse", "books")] == \
        [fresh[k] for k in ("coarse", "books")]

    AI.build_ann_index(spark, half, str(ann))
    assert AI.read_books(str(ann)) == books
    assert sorted(p.name for p in ann.iterdir()) == ["pq", AI.BOOKS]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["_compaction",
                                                          "ann"]
