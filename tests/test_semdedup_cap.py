"""SemDeDup cluster cap + pivot fallback (the mega-cluster defense).

k-means bounds the AVERAGE cluster size (k = n / 250), not the maximum:
a template-farm mass of near-identical embeddings lands in ONE cluster
regardless of k, and the uncapped per-cluster gram is O(m²) memory in a
single Python worker. These tests pin the defense the same way the
minhash band cap is pinned (tests/test_dedup_ops.py): a synthetic
mega-cluster fires the cap, the capped path emits the SAME drop set as
the uncapped gram (pivot #1 — the cluster's minimum id — catches every
mass member), every survivor attribution points at a pivot, and Spark ≡
DuckDB under a firing cap.
"""

from __future__ import annotations

import duckdb
import math
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_rag_spark.queries.clustering import (
    _SEMDEDUP_CLUSTER_CAP,
    _SEMDEDUP_PIVOTS,
    SEMDEDUP_CLUSTER_STATS_SQL,
    semdedup_cluster_stats_sql,
    semdedup_sql,
    vec_kmeans_assign,
    vec_semdedup_cluster_stats,
    vec_semdedup_drop,
)

SF_DIR = "/root/testdata/sf0.01"
DIM = 64
N_MASS = 1400   # near-identical template mass — all one cluster
N_SPREAD = 50   # mutually orthogonal one-hots (<= DIM so no collisions)
CAP, PIVOTS = 100, 8


@pytest.fixture(scope="module")
def mega_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("semdedup_mega")
    rng = np.random.default_rng(11)
    base = rng.normal(size=DIM)
    base /= np.linalg.norm(base)
    mass = base[None, :] + rng.normal(scale=0.001, size=(N_MASS, DIM))
    spread = np.eye(DIM)[:N_SPREAD] * 3.0  # pairwise cos exactly 0
    vecs = np.vstack([mass, spread])
    n = len(vecs)
    pq.write_table(
        pa.table({"vec_id": np.arange(n),
                  "label": np.zeros(n, dtype=np.int32),
                  "embedding": list(vecs.astype(float))}),
        str(d / "embeddings.parquet"))
    return str(d)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))


def test_capped_matches_duckdb_when_firing(spark, mega_dir):
    got = vec_semdedup_drop(spark, mega_dir, cluster_cap=CAP,
                            pivots=PIVOTS).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{mega_dir}/embeddings.parquet')")
    want = con.execute(semdedup_sql(CAP, PIVOTS)).df()
    assert _canon(got) == _canon(want)
    assert len(got) >= N_MASS - PIVOTS  # the mass really was capped


def test_capped_drop_set_equals_uncapped_on_mass(spark, mega_dir):
    """Pivot #1 is the cluster's minimum id, and the mass matches it, so
    the capped drop set AND the kept_by attribution equal the uncapped
    gram's answer on this corpus (max_cos_e6 may differ: the uncapped
    path sees non-pivot pairs too)."""
    capped = vec_semdedup_drop(spark, mega_dir, cluster_cap=CAP,
                               pivots=PIVOTS).toPandas()
    full = vec_semdedup_drop(spark, mega_dir, cluster_cap=None).toPandas()
    key = ["cluster", "drop_id", "kept_by"]
    assert (sorted(map(tuple, capped[key].itertuples(index=False,
                                                     name=None)))
            == sorted(map(tuple, full[key].itertuples(index=False,
                                                      name=None))))


def test_over_cap_kept_by_is_always_a_pivot(spark, mega_dir):
    a = vec_kmeans_assign(spark, mega_dir).toPandas()
    sizes = a.groupby("cluster").size()
    over = set(sizes[sizes > CAP].index)
    assert over, "fixture must produce an over-cap cluster"
    pivot_ids = {
        c: set(a[a.cluster == c].vec_id.nsmallest(PIVOTS)) for c in over}
    d = vec_semdedup_drop(spark, mega_dir, cluster_cap=CAP,
                          pivots=PIVOTS).toPandas()
    for _, r in d[d.cluster.isin(over)].iterrows():
        assert r.kept_by in pivot_ids[r.cluster], (r.cluster, r.kept_by)
        assert r.kept_by < r.drop_id


def test_cluster_stats_fire_and_match_formula(spark, mega_dir):
    s = vec_semdedup_cluster_stats(spark, mega_dir).toPandas().iloc[0]
    a = vec_kmeans_assign(spark, mega_dir).toPandas()
    sizes = a.groupby("cluster").size()
    assert int(s.n_clusters) == len(sizes)
    assert int(s.max_cluster) == int(sizes.max())
    over = sizes[sizes > _SEMDEDUP_CLUSTER_CAP]
    assert int(s.n_over_cap) == len(over) >= 1
    p = _SEMDEDUP_PIVOTS
    want = sum(int(n) * (int(n) - 1) // 2 - (p * int(n) - p * (p + 1) // 2)
               for n in over)
    assert int(s.n_pair_rows_saved) == want > 0


def test_cluster_stats_follow_a_non_default_cap(spark, mega_dir):
    """Stats observe the cap the drop ran with: CAP=100/PIVOTS=8 counts
    the clusters over 100 members and their savings at 8 pivots (Spark
    and DuckDB alike); no cap means nothing is over it."""
    s = vec_semdedup_cluster_stats(spark, mega_dir, cluster_cap=CAP,
                                   pivots=PIVOTS).toPandas()
    sizes = vec_kmeans_assign(spark, mega_dir).toPandas() \
        .groupby("cluster").size()
    over = sizes[sizes > CAP]
    assert int(s.n_over_cap.iloc[0]) == len(over) >= 1
    want = sum(int(n) * (int(n) - 1) // 2
               - (PIVOTS * int(n) - PIVOTS * (PIVOTS + 1) // 2)
               for n in over)
    assert int(s.n_pair_rows_saved.iloc[0]) == want > 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{mega_dir}/embeddings.parquet')")
    assert _canon(s) == _canon(
        con.execute(semdedup_cluster_stats_sql(CAP, PIVOTS)).df())
    uncapped = vec_semdedup_cluster_stats(spark, mega_dir,
                                          cluster_cap=None).toPandas()
    assert int(uncapped.n_over_cap.iloc[0]) == 0
    assert int(uncapped.n_pair_rows_saved.iloc[0]) == 0


def test_cap_inert_on_testdata(spark):
    """sf0.01 clusters all sit under the production cap, so the capped
    path is byte-equivalent to the old uncapped gram there — the
    committed oracle-parity rows cannot move."""
    s = vec_semdedup_cluster_stats(spark, SF_DIR).toPandas().iloc[0]
    assert int(s.n_over_cap) == 0
    assert int(s.n_pair_rows_saved) == 0
    assert int(s.max_cluster) <= _SEMDEDUP_CLUSTER_CAP


def test_stats_parity_with_duckdb(spark):
    got = vec_semdedup_cluster_stats(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    want = con.execute(SEMDEDUP_CLUSTER_STATS_SQL).df()
    assert _canon(got) == _canon(want)
