"""Invariants of the curation-tier operators beyond the oracle parity
(parity pins exact values at one SF; these pin the *semantic* contracts
that must hold at any scale)."""

from __future__ import annotations

import duckdb

from docling_rag_spark.queries.curation import (
    _KMV_K,
    _SAMPLE_PCT,
    _SHARD_TOKENS,
    _STRATA_QUOTA,
    _max_doc_id,
    events_kmv_users,
    sample_stratified,
    sample_uniform,
    shard_pack,
)

SF_DIR = "/root/testdata/sf0.01"


def test_shard_pack_invariants(spark):
    df = shard_pack(spark, SF_DIR).toPandas()
    sums = df.groupby("shard_id")["tokens"].sum()
    # greedy streaming pack: a shard never exceeds budget by more than
    # the one straddling doc
    assert (sums <= _SHARD_TOKENS + df["tokens"].max()).all()
    # every shard except possibly the last is filled to the budget
    # boundary (the prefix sum leaves no underfull middle shards)
    assert (sums.iloc[:-1] + df["tokens"].max() >= _SHARD_TOKENS).all()
    # shard ids dense from 0, assignment preserves doc order
    assert sorted(sums.index) == list(range(len(sums)))
    ordered = df.sort_values("doc_id")["shard_id"]
    assert ordered.is_monotonic_increasing


def test_shard_pack_width_invariant(spark):
    """The two-phase prefix sum must give identical shard assignments at
    ANY range width (it's a pure prefix sum) — this is what lets the
    width scale as sqrt(max doc_id) for the 10^12-doc offsets-table bound
    without touching the single-window oracle."""
    default = shard_pack(spark, SF_DIR).toPandas().sort_values("doc_id")
    for width in (7, 500, 10**9):  # sub-sqrt, floor, one-range degenerate
        alt = (shard_pack(spark, SF_DIR, range_size=width)
               .toPandas().sort_values("doc_id"))
        assert alt.values.tolist() == default.values.tolist(), width


def test_shard_pack_width_comes_from_footers(spark, spark_jobs):
    """The range width is sized from the doc_id statistics in the parquet
    footers, read on the driver: building the plan runs only the read's
    footer-inference job (3 with an eager max(doc_id) aggregate)."""
    con = duckdb.connect()
    hi = con.sql(f"SELECT max(doc_id) FROM "
                 f"read_parquet('{SF_DIR}/documents.parquet')").fetchone()[0]
    con.close()
    assert _max_doc_id(SF_DIR) == hi
    _, descs = spark_jobs(lambda: shard_pack(spark, SF_DIR))
    assert len(descs) == 1, descs


def test_kmv_exact_when_under_k(spark):
    """n_seen < k means the sketch saw the whole distinct set: the
    estimate must be exactly the true distinct count (here: per-type
    user sets at sf0.001 are far below k=256)."""
    df = events_kmv_users(spark, "/root/testdata/sf0.001").toPandas()
    con = duckdb.connect()
    true = con.sql(
        "SELECT event_type, count(DISTINCT user_id) AS tu FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet') GROUP BY 1"
    ).df()
    con.close()
    m = df.merge(true, on="event_type")
    under = m[m.n_seen < _KMV_K]
    assert len(under) > 0, "fixture outgrew k; pick a smaller SF"
    assert (under.est_users == under.tu).all()
    assert under.kth_hash.isna().all()


def test_sampling_invariants(spark):
    uni = sample_uniform(spark, SF_DIR).toPandas()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # Bernoulli at SAMPLE_PCT: binomial bounds, wide enough to never flake
    assert 0.4 * _SAMPLE_PCT / 100 < len(uni) / n_docs \
        < 2.5 * _SAMPLE_PCT / 100
    strat = sample_stratified(spark, SF_DIR).toPandas()
    per_lang = strat.groupby("lang").size()
    assert (per_lang <= _STRATA_QUOTA).all()
    # rn is a dense 1..quota prefix within every stratum
    for _, g in strat.groupby("lang"):
        assert sorted(g["rn"]) == list(range(1, len(g) + 1))
