"""Physical-plan audits: the scale properties the queries are designed
around are asserted against the actual optimized plans, so a regression
that un-pushes a filter, widens a scan, or degrades top-k into a global
sort fails CI — not a 100 TB run."""

from __future__ import annotations

import re

import pytest

from docling_rag_spark.queries import all_diagnostics, all_queries

SF_DIR = "/root/testdata/sf0.01"


def _builders():
    return {**{n: b for n, (b, _s) in all_diagnostics().items()},
            **all_queries()}


def _plan(spark, name: str) -> str:
    df = _builders()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _read_schemas(plan: str) -> list[str]:
    return [line.split("ReadSchema:", 1)[1].strip()
            for line in plan.splitlines() if "ReadSchema:" in line]


def test_column_pruning_reaches_scan(spark):
    """Narrow aggregations must not scan the wide text column."""
    for schema in _read_schemas(_plan(spark, "a1_docs_per_source")):
        assert "text" not in schema, schema
    # dedup_exact needs text (it hashes it) but nothing else wide
    for schema in _read_schemas(_plan(spark, "dedup_exact")):
        assert "source" not in schema and "lang" not in schema, schema


def test_filter_pushdown_q1(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan)
    # projection pruned: the 11-column lineitem scan reads only 6
    schemas = _read_schemas(plan)
    assert schemas and all("l_orderkey" not in s for s in schemas)


def test_topk_is_take_ordered_not_global_sort(spark):
    """Top-k queries must plan TakeOrderedAndProject (per-partition heap +
    merge), never a full Exchange+Sort of the data."""
    for q in ("vec_topk_cosine", "o3_recent_events", "q3_revenue_topk",
              "text_bm25_topk"):
        plan = _plan(spark, q)
        assert "TakeOrderedAndProject" in plan, q


def test_hybrid_rrf_windows_are_pool_bounded(spark):
    """search_hybrid_rrf's single-partition rank windows must sit above
    TakeOrderedAndProject limits (<=50-row candidate pools), so the global
    row_number never sees the corpus; and the corpus itself is never
    sort-merge joined."""
    plan = _plan(spark, "search_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 pools + final
    body = plan.split("== Physical Plan ==")[-1].split("(1) ")[0]
    assert len(re.findall(r"\bWindow\b", body)) == 2, body


def test_dim_joins_broadcast(spark):
    """Fact-to-dim joins must broadcast the dim side — a shuffled join of
    lineitem against nation/customer is the classic 100 TB regression."""
    for q in ("q3_revenue_topk", "q5_supplier_volume", "j1_orders_customer"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_no_cartesian_products_in_suite(spark):
    """No query in the whole driver surface may plan an unconditioned
    cartesian product (the broadcast-of-one-row crossJoins in the vector
    queries are BroadcastNestedLoopJoin over a 1-row side — allowed)."""
    for name in _builders():
        if name in ("vec_neardup_cosine",):  # documented O(N^2) diagnostic
            continue
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_exchange_count_bounded(spark):
    """Single-pass aggregations keep to one shuffle."""
    for q, max_exchanges in (("a1_docs_per_source", 1),
                             ("dedup_exact", 1),
                             ("text_fingerprint", 0),
                             ("text_token_count", 0),
                             ("text_pii_scrub", 0),
                             # as-of join: union-marker window — the click
                             # agg and the per-user window, never a range
                             # join explosion
                             ("events_asof_join", 2),
                             # canonicalize is pure expressions; the only
                             # shuffle is the per-host cap window
                             ("url_canonical_cap", 1),
                             # span window + doc regroup, no all-pairs
                             ("corpus_span_dedup", 2),
                             # k-means final assignment: literal centroid
                             # matrix, map-only — the eager update rounds
                             # inside the builder shuffle separately
                             ("vec_kmeans_assign", 0),
                             # within-cluster pairs: one cluster-key join
                             # + bounded groupBy, never all-pairs
                             ("vec_semdedup_drop", 3),
                             # trigram LM: charset^3-bounded count aggs
                             # broadcast back; corpus-sized data crosses
                             # only the explode + final doc_id groupBy
                             ("text_lm_score", 6),
                             # pure scan-fused projection, no shuffle
                             ("text_unicode_clean", 0)):
        plan = _plan(spark, q)
        n = len(re.findall(r"\bExchange\b", plan.split("== Physical Plan ==")[-1].split("(1) ")[0]))
        assert n <= max_exchanges, f"{q}: {n} exchanges"


def test_simhash_pairs_no_pair_volume_distinct(spark):
    """The exactly-once first-clean-combo gate (queries/dedup.py) means
    the candidate-pair stream leaves the band self-join already unique:
    no aggregate keyed on the pair (sa, sb) — i.e. no distinct() and no
    pair-volume Exchange (98.7M rows / ~1.6 GB at sf1) — may reappear in
    the physical plan. Aggregates keyed on doc_id/simhash (fingerprint
    fold, group stats, bucket sizes) are the expected linear ones."""
    plan = _plan(spark, "dedup_simhash_pairs")
    phys = plan.split("== Physical Plan ==")[-1]
    assert not re.search(r"Keys \[2\]: \[sa#\d+L?, sb#\d+L?\]", phys)
    assert not re.search(r"Keys \[2\]: \[doc_a#\d+L?, doc_b#\d+L?\]", phys)


def test_ann_index_partition_pruning(spark):
    """The materialized ANN index must be read partition-pruned: the
    IVF-PQ probe scan touches <=4 of 16 cell dirs. Checked both
    physically (the executed scan's selected partitions) and in the plan
    (PartitionFilters on the partition key)."""
    import re as _re

    cases = (("vec_ivf_pq_topk", "cell", 4, 16),)
    for name, key, max_parts, total_parts in cases:
        df = _builders()[name](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        # physical: the executed scan's selected partition count
        plan = qe.executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # unwrap to the current inner plan
        leaves = plan.collectLeaves()
        scans = [leaves.apply(i) for i in range(leaves.length())
                 if "parquet" in leaves.apply(i).nodeName().lower()]
        assert scans, f"{name}: no parquet scan leaf"
        n_sel = scans[0].selectedPartitions().partitionCount()
        assert 0 < n_sel <= max_parts, \
            f"{name}: scan selected {n_sel} partitions (cap {max_parts} " \
            f"of {total_parts})"
        # plan: Catalyst recorded a partition filter on the key
        plan = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        assert _re.search(rf"PartitionFilters: \[.*{key}", plan), name
