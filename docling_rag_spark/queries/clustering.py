"""Embedding-space clustering for corpus curation (SemDeDup-shape).

SemDeDup (Abbas et al. 2023) prunes web corpora by k-means-clustering
document embeddings, then removing near-duplicates *within* each cluster —
the clustering bounds the quadratic so no all-pairs join ever happens.
These two operators add that tier:

- ``vec_kmeans_assign`` — Lloyd's k-means over e4-quantized embeddings
  (seeds = the k smallest vec_ids, one update round, final
  re-assignment), with k scaled to the corpus (n / 250, min 4): fixed k
  is the SemDeDup scale trap — within-cluster pair counts grow as
  (n/k)^2 per cluster. Assignment is an Arrow-vectorized ``mapInPandas``
  stage (numpy ``||x||^2 - 2 x·M^T + ||m||^2`` argmin against the k×64
  centroid matrix broadcast in the closure — no per-row Python, no N×k
  join); the centroid update is JVM-side: 64 per-dim ``F.sum`` partials
  in ONE map-side-combined groupBy of EXACT BIGINT sums. At 10^12 docs
  each round is one map pass plus one tree-aggregated k-row shuffle.

- ``vec_semdedup_drop`` — within-cluster near-duplicate removal: inside
  each final cluster, a vector is DROPPED when a smaller-id vector in
  the same cluster has quantized-cosine >= the threshold (keep-first
  canonicalization, mirroring dedup_keep_first). One shuffle on cluster
  id into ``applyInPandas`` for in-cap clusters (exact gram, ≤
  _SEMDEDUP_CLUSTER_CAP members — ~250 is only the AVERAGE k-means
  delivers); over-cap clusters (a template-farm mass of near-identical
  embeddings lands in ONE cluster regardless of k) skip the Python
  worker entirely and run a linear keyed join against the cluster's
  _SEMDEDUP_PIVOTS smallest-id members, JVM-side fold cosine —
  bit-identical to the DuckDB twin's big branch.

Cross-engine correctness contract: the DuckDB twins re-derive the same
two Lloyd rounds as unrolled CTEs with sequential (x - s/n)^2 folds.
Quantization and centroid sums are exact integers in both engines;
distances/cosines are float64 in both, computed by DIFFERENT but
algebraically-equal routes (numpy matmul vs sequential fold), so they
agree to a few ulps — outputs are therefore floor-coarsened past the
reassociation error bound: dist at unit granularity (error ~2e-7 of a
~2e9-scale value => flip probability ~1e-7/row) and cosine at e6
(dot-error/norms ~5e-16 => ~5e-10/pair). Assignment flips would need a
sub-1e-6 gap between two centroids' distances out of a ~1e8 typical
gap. tests/test_oracle_parity.py hash-checks both at sf0.01; the sf0.1
twin run is checked in-session (deterministic, not flaky: same data +
libraries every run).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t

_K_MIN = 4
_K_DIVISOR = 250   # k scales with corpus: ~250 vectors per cluster
_SCALE = 10000.0
_DIM = 64
_SEMDEDUP_MIN_E6 = 300000  # quantized-cosine keep-first threshold

_ASSIGN_SCHEMA = "vec_id bigint, qv array<bigint>, cluster bigint, dist double"


def _quantized(spark, sf_dir):
    """(vec_id BIGINT, qv array<BIGINT>) — e4 floor-scaled embeddings."""
    return _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(_SCALE))
            .cast("bigint")).alias("qv"))


def _k_for(n: int) -> int:
    """Corpus-scaled cluster count: ~_K_DIVISOR vectors per cluster.
    Mirrored by the oracle's greatest(k_min, count(*)//divisor)."""
    return max(_K_MIN, n // _K_DIVISOR)


def _qv_matrix(pdf: pd.DataFrame) -> np.ndarray:
    """A batch's quantized vectors as one float64 matrix. Shared by the
    Python stages below; as a package function it also makes unpickling
    them import the package, which runs its worker hook."""
    return np.array(pdf["qv"].tolist(), dtype=np.float64)


def _assign(q, cents):
    """Vectorized argmin assignment: one Arrow batch at a time, distances
    to all k centroids via numpy matmul. ``cents`` is sorted by cluster
    id, so np.argmin's first-minimum tie-break matches the oracle's
    (dist ASC, cluster ASC) row_number. Distances are clamped at 0: the
    identity form can go ~-1e-6 where the true distance is exactly 0
    (a singleton cluster's seed), and the oracle's (x-m)^2 fold is
    non-negative by construction."""
    cids = np.array([c for c, _s, _n in cents], dtype=np.int64)
    M = np.array([[float(sv) / float(n) for sv in s]
                  for _c, s, n in cents], dtype=np.float64)
    m2 = (M * M).sum(axis=1)

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _qv_matrix(pdf)
            d = ((X * X).sum(axis=1)[:, None]
                 - 2.0 * (X @ M.T) + m2[None, :])
            np.maximum(d, 0.0, out=d)
            idx = np.argmin(d, axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "qv": pdf["qv"],
                "cluster": cids[idx],
                "dist": d[np.arange(len(idx)), idx]})

    return q.mapInPandas(part, schema=_ASSIGN_SCHEMA)


def _update(assigned):
    """Collect per-cluster (per-dim sums, count) — 64 F.sum partials in
    ONE groupBy (map-side combined), k rows to the driver. Exact BIGINT
    sums: identical in both engines regardless of row order."""
    rows = (assigned.groupBy("cluster")
            .agg(F.count("*").alias("n"),
                 *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                   for i in range(_DIM)])
            .collect())
    return sorted((int(r["cluster"]),
                   [int(r[f"s{i}"]) for i in range(_DIM)], int(r["n"]))
                  for r in rows)


def _final_assignment(spark, sf_dir):
    q = _quantized(spark, sf_dir)
    k = _k_for(q.count())
    seeds = (q.filter(F.col("vec_id") < k)
             .orderBy("vec_id").collect())
    cents = [(int(r["vec_id"]), [int(v) for v in r["qv"]], 1)
             for r in seeds]
    a1 = _assign(q, cents)           # round 1: assign to seeds
    cents = _update(a1)              # round 1: recompute centroids
    return _assign(q, cents)         # round 2: final assignment


def vec_kmeans_assign(spark, sf_dir):
    return (_final_assignment(spark, sf_dir)
            .select("vec_id", "cluster",
                    F.floor(F.col("dist")).cast("bigint").alias("dist_i")))


_SEMDEDUP_SCHEMA = ("cluster bigint, drop_id bigint, kept_by bigint, "
                    "max_cos_e6 bigint")

# Per-cluster member cap before the pivot fallback. ~250/cluster is the
# AVERAGE k-means delivers (k = n / _K_DIVISOR) — it is not a bound:
# a template-farm mass of near-identical embeddings lands in ONE cluster
# regardless of k (same structure the minhash/simhash band caps defend
# against), and the full per-cluster gram is then O(m²) memory inside a
# single applyInPandas worker. In-cap clusters keep the exact gram
# (cap² doubles ≈ 8 MB); over-cap clusters degrade to the linear pivot
# rule below, with the loss observable via vec_semdedup_cluster_stats.
_SEMDEDUP_CLUSTER_CAP = 1000
# Over-cap rule: each member is compared only against the cluster's
# _SEMDEDUP_PIVOTS smallest-id members (m × pivots rows — linear, keyed
# join, no Python materialization of the cluster). Keep-first semantics
# are preserved exactly for the structure that creates over-cap clusters
# (a near-identical mass matches pivot #1, the cluster's minimum id, so
# the drop set and kept_by equal the uncapped answer — pytest-pinned);
# recall is lost only for pairs whose BOTH endpoints are outside the
# pivot set with no pivot near them.
_SEMDEDUP_PIVOTS = 64


def _nrm_col(qv):
    """sqrt of the sequentially-folded Σ qv_i² with the zero→1.0 guard —
    the exact IEEE op sequence of the DuckDB twin's nq CTE (list_reduce
    fold), so the over-cap pivot branch is bit-identical cross-engine
    (no matmul reassociation, unlike the in-cap gram path)."""
    s = F.aggregate(
        F.transform(qv, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, b: a + b)
    n = F.sqrt(s)
    return F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)


def vec_semdedup_drop(spark, sf_dir,
                      cluster_cap: int | None = _SEMDEDUP_CLUSTER_CAP,
                      pivots: int = _SEMDEDUP_PIVOTS):
    from pyspark.sql import Window

    a = _final_assignment(spark, sf_dir).select("vec_id", "qv", "cluster")
    w = Window.partitionBy("cluster")
    wr = w.orderBy("vec_id")
    sized = a.select("vec_id", "qv", "cluster",
                     F.count("*").over(w).alias("cn"),
                     F.row_number().over(wr).alias("rk"))

    def per_cluster(pdf):
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        X = _qv_matrix(pdf)
        nrm = np.sqrt((X * X).sum(axis=1))
        nrm[nrm == 0.0] = 1.0  # zero vectors match nothing
        C = (X / nrm[:, None]) @ (X / nrm[:, None]).T
        cos_e6 = np.floor(C * 1000000.0).astype(np.int64)
        i_idx, j_idx = np.triu_indices(len(ids), k=1)
        hit = cos_e6[i_idx, j_idx] >= _SEMDEDUP_MIN_E6
        i_idx, j_idx = i_idx[hit], j_idx[hit]
        if not len(j_idx):
            return pd.DataFrame({
                "cluster": pd.Series(dtype="int64"),
                "drop_id": pd.Series(dtype="int64"),
                "kept_by": pd.Series(dtype="int64"),
                "max_cos_e6": pd.Series(dtype="int64")})
        out = (pd.DataFrame({"drop_id": ids[j_idx],
                             "kept_by": ids[i_idx],
                             "max_cos_e6": cos_e6[i_idx, j_idx]})
               .groupby("drop_id", as_index=False)
               .agg(kept_by=("kept_by", "min"),
                    max_cos_e6=("max_cos_e6", "max")))
        out.insert(0, "cluster", int(pdf["cluster"].iloc[0]))
        return out

    small = sized if cluster_cap is None else sized.filter(
        F.col("cn") <= cluster_cap)
    res = (small.select("vec_id", "qv", "cluster")
           .groupBy("cluster").applyInPandas(per_cluster,
                                             schema=_SEMDEDUP_SCHEMA))
    if cluster_cap is None:
        return res

    big = sized.filter(F.col("cn") > cluster_cap)
    piv = (big.filter(F.col("rk") <= pivots)
           .select("cluster", F.col("vec_id").alias("u_id"),
                   F.col("qv").alias("u_qv"),
                   _nrm_col(F.col("qv")).alias("u_nrm")))
    v = big.select("cluster", F.col("vec_id").alias("drop_id"),
                   F.col("qv").alias("v_qv"),
                   _nrm_col(F.col("qv")).alias("v_nrm"))
    cos_e6 = F.floor(
        F.aggregate(
            F.zip_with(F.col("u_qv"), F.col("v_qv"),
                       lambda x, y: (x.cast("double") / F.col("u_nrm"))
                       * (y.cast("double") / F.col("v_nrm"))),
            F.lit(0.0), lambda acc, t: acc + t)
        * F.lit(1000000.0)).cast("bigint")
    over = (v.join(piv, "cluster")
            .filter(F.col("u_id") < F.col("drop_id"))
            .select("cluster", "drop_id", "u_id", cos_e6.alias("cos_e6"))
            .filter(F.col("cos_e6") >= F.lit(_SEMDEDUP_MIN_E6))
            .groupBy("cluster", "drop_id")
            .agg(F.min("u_id").alias("kept_by"),
                 F.max("cos_e6").alias("max_cos_e6"))
            .select(F.col("cluster").cast("bigint").alias("cluster"),
                    F.col("drop_id").cast("bigint").alias("drop_id"),
                    F.col("kept_by").cast("bigint").alias("kept_by"),
                    F.col("max_cos_e6").cast("bigint")
                    .alias("max_cos_e6")))
    return res.unionByName(over)


def vec_semdedup_cluster_stats(spark, sf_dir,
                               cluster_cap: int | None = _SEMDEDUP_CLUSTER_CAP,
                               pivots: int = _SEMDEDUP_PIVOTS):
    """Cap observability for the SemDeDup clusters (the twin of
    ``dedup_minhash_group_stats``): cluster count, how many exceeded the
    member cap, the largest cluster, and the quadratic pair rows the
    pivot fallback avoided — the number a production run logs to prove
    the mega-cluster defense engaged. ``cluster_cap`` / ``pivots`` are
    those of the ``vec_semdedup_drop`` run being observed."""
    g = (_final_assignment(spark, sf_dir)
         .groupBy("cluster").agg(F.count("*").cast("bigint").alias("n")))
    over = (F.lit(False) if cluster_cap is None
            else F.col("n") > cluster_cap)
    p = F.lit(pivots)
    # over-cap pair rows: each pivot u (rank r_u) pairs with the n - r_u
    # members above it → p·n - p(p+1)/2; full expansion is n(n-1)/2
    saved = (F.expr("n * (n - 1) DIV 2")
             - (p * F.col("n") - F.expr(f"{pivots} * ({pivots} + 1) DIV 2")))
    return g.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(over.cast("bigint")).cast("bigint").alias("n_over_cap"),
        F.max("n").cast("bigint").alias("max_cluster"),
        F.sum(F.when(over, saved).otherwise(0)).cast("bigint")
        .alias("n_pair_rows_saved"))


# --- DuckDB twins: the same two Lloyd rounds as unrolled CTEs ----------------

def _kmeans_cte():
    # sequential (x - s/n)^2 fold: algebraically equal to the numpy
    # identity form, bit-different at the ulp level — hence the coarse
    # floors on every float output (module docstring)
    dist = """list_reduce(list_transform(list_transform(range(1, {d1}),
                i -> q.qv[i]::DOUBLE - (c.s[i]::DOUBLE / c.n::DOUBLE)),
                d -> d * d),
                (a, b) -> a + b)""".format(d1=_DIM + 1)
    return f"""
q AS (
  SELECT vec_id::BIGINT AS vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * {_SCALE})::BIGINT) AS qv
  FROM embeddings),
kk AS (
  SELECT greatest({_K_MIN}, count(*) // {_K_DIVISOR})::BIGINT AS k FROM q),
c0 AS (
  SELECT vec_id AS cluster, qv AS s, 1::BIGINT AS n
  FROM q WHERE vec_id < (SELECT k FROM kk)),
d1 AS (
  SELECT q.vec_id, q.qv, c.cluster, {dist} AS dist,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {dist} ASC, c.cluster ASC) AS rn
  FROM q CROSS JOIN c0 c),
a1 AS (SELECT vec_id, qv, cluster FROM d1 WHERE rn = 1),
c1 AS (
  SELECT cluster, list(sd ORDER BY i) AS s, any_value(cnt) AS n
  FROM (SELECT a1.cluster, t.i,
               sum(a1.qv[t.i])::BIGINT AS sd, count(*)::BIGINT AS cnt
        FROM a1 CROSS JOIN range(1, {_DIM + 1}) t(i)
        GROUP BY a1.cluster, t.i)
  GROUP BY cluster),
d2 AS (
  SELECT q.vec_id, q.qv, c.cluster, {dist} AS dist,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {dist} ASC, c.cluster ASC) AS rn
  FROM q CROSS JOIN c1 c),
a2 AS (SELECT vec_id, qv, cluster, dist FROM d2 WHERE rn = 1)
"""


KMEANS_SQL = f"""
WITH {_kmeans_cte()}
SELECT vec_id, cluster::BIGINT AS cluster,
       floor(greatest(dist, 0.0))::BIGINT AS dist_i
FROM a2
"""


_SEMDEDUP_COS = """floor(list_reduce(list_transform(range(1, {d1}),
                 i -> (a.qv[i]::DOUBLE / a.nrm)
                      * (b.qv[i]::DOUBLE / b.nrm)), (x, y) -> x + y)
               * 1000000.0)::BIGINT""".format(d1=_DIM + 1)


def semdedup_sql(cluster_cap: int | None = _SEMDEDUP_CLUSTER_CAP,
                 pivots: int = _SEMDEDUP_PIVOTS) -> str:
    """DuckDB twin of ``vec_semdedup_drop`` — the cluster cap + pivot
    fallback mirrored EXACTLY (count/rank windows per cluster, in-cap
    full expansion, over-cap keep side restricted to the ``pivots``
    smallest-id members)."""
    small_pred = ("" if cluster_cap is None
                  else f"\n  WHERE a.cn <= {cluster_cap}")
    big = "" if cluster_cap is None else f"""
  UNION ALL
  SELECT a.cluster, a.vec_id AS keep_id, b.vec_id AS drop_id,
         {_SEMDEDUP_COS} AS cos_e6
  FROM nq a JOIN nq b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE a.cn > {cluster_cap} AND a.rk <= {pivots}"""
    return f"""
WITH {_kmeans_cte()},
nq AS (
  SELECT vec_id, qv, cluster,
         coalesce(nullif(
           sqrt(list_reduce(list_transform(range(1, {_DIM + 1}),
                i -> qv[i]::DOUBLE * qv[i]::DOUBLE), (a, b) -> a + b)),
           0.0), 1.0) AS nrm,  -- zero vectors match nothing (Spark twin
                               -- sets nrm=1.0; 0/0 would NaN here)
         count(*) OVER (PARTITION BY cluster) AS cn,
         row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rk
  FROM a2),
pairs AS (
  SELECT a.cluster, a.vec_id AS keep_id, b.vec_id AS drop_id,
         {_SEMDEDUP_COS} AS cos_e6
  FROM nq a JOIN nq b ON a.cluster = b.cluster
   AND a.vec_id < b.vec_id{small_pred}{big})
SELECT cluster::BIGINT AS cluster, drop_id::BIGINT AS drop_id,
       min(keep_id)::BIGINT AS kept_by, max(cos_e6)::BIGINT AS max_cos_e6
FROM pairs WHERE cos_e6 >= {_SEMDEDUP_MIN_E6}
GROUP BY cluster, drop_id
"""


SEMDEDUP_SQL = semdedup_sql()


def semdedup_cluster_stats_sql(
        cluster_cap: int | None = _SEMDEDUP_CLUSTER_CAP,
        pivots: int = _SEMDEDUP_PIVOTS) -> str:
    """DuckDB twin of ``vec_semdedup_cluster_stats``."""
    over = "FALSE" if cluster_cap is None else f"n > {cluster_cap}"
    return f"""
WITH {_kmeans_cte()},
g AS (SELECT cluster, count(*)::BIGINT AS n FROM a2 GROUP BY cluster)
SELECT count(*)::BIGINT AS n_clusters,
       sum(CASE WHEN {over} THEN 1 ELSE 0 END)::BIGINT
         AS n_over_cap,
       max(n)::BIGINT AS max_cluster,
       sum(CASE WHEN {over}
                THEN n * (n - 1) // 2
                     - ({pivots} * n
                        - {pivots} * ({pivots} + 1) // 2)
                ELSE 0 END)::BIGINT AS n_pair_rows_saved
FROM g
"""


SEMDEDUP_CLUSTER_STATS_SQL = semdedup_cluster_stats_sql()


QUERIES: dict = {}

DIAGNOSTICS = {
    "vec_kmeans_assign": (vec_kmeans_assign, KMEANS_SQL),
    "vec_semdedup_drop": (vec_semdedup_drop, SEMDEDUP_SQL),
    "vec_semdedup_cluster_stats": (vec_semdedup_cluster_stats,
                                   SEMDEDUP_CLUSTER_STATS_SQL),
}
