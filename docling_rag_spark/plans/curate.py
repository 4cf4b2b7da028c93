"""Warehouse-level corpus curation: the job that turns extraction output
into a training-ready corpus.

Chains the curation tier over the ``extracted`` table in one DataFrame
DAG — quality gates (same C4/Gopher-shape rules and constants as
``queries/textstats.corpus_filter``), PII scrubbing, exact dedup with
keep-first survivors, MinHash near-dup removal, token-budget shard
packing — and writes shard-partitioned parquet plus a JSON report of what
was dropped and why. The reference has no analog (its pipeline stops at
chunks in postgres); this is the step a 10^12-doc crawl needs between
extraction and training.

Scale design: one text scan computes tokens/gates; the repetition gate
adds the one (url, token) shuffle ``text_repetition`` documents; dedup is
a single window over content hash. Dense ids and shard ids come from
``queries/curation.prefix_sum`` keyed by the existing bucket column
(per-bucket partials -> tiny offsets window -> broadcast join), so no
global-sort window ever sees the corpus.

Every number of the report is computed once: the input, per-reason and
distinct-hash counts by one grouped aggregate over the gated rows, the
survivor, token and shard counts from the written corpus. Its Spark jobs
are tagged ``curate:gate``, ``curate:near_dup``, ``curate:write`` and
``curate:stats``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_rag_spark.io import warehouse as wh
from docling_rag_spark.queries.curation import prefix_sum
from docling_rag_spark.queries.dedup import (
    _cc_labels,
    content_hash_col,
    minhash_pairs_for,
)
from docling_rag_spark.queries import textstats as ts
from docling_rag_spark.session import job_description

_DEFAULT_SHARD_TOKENS = 200_000


def _near_dup_survivors(deduped):
    """MassiveText-style near-dup removal: MinHash-LSH candidate pairs
    over the kept docs -> connected components -> keep each cluster's
    canonical (minimum dense-id == lowest (bucket, url)) member. Same
    banded-join machinery the oracle-checked ``dedup_minhash_pairs`` /
    ``dedup_components`` queries pin, applied to warehouse rows."""
    # dense bigint doc_id: the scale-safe zipWithIndex, stable across
    # reruns because (bucket, url) is a total order
    ids = prefix_sum(deduped, "bucket", "url", F.lit(1), "doc_id")
    pairs = minhash_pairs_for(ids.select("doc_id", "text")) \
        .select("doc_a", "doc_b")
    labels = _cc_labels(pairs)
    return (ids.join(labels.withColumnRenamed("node", "doc_id"),
                     "doc_id", "left")
            .filter(F.coalesce(F.col("label"), F.col("doc_id"))
                    == F.col("doc_id"))
            .drop("label", "doc_id"))


def run_curation(spark, out_dir: str, dest_dir: str,
                 shard_tokens: int = _DEFAULT_SHARD_TOKENS,
                 include_degraded: bool = True,
                 min_words: int = ts._FILTER_MIN_WORDS,
                 max_top_bp: int = ts._FILTER_MAX_TOP_BP,
                 require_stopwords: bool = True,
                 near_dup: bool = True) -> dict:
    """extracted -> filtered, scrubbed, deduped, shard-packed corpus.

    Gate thresholds are parameters because they are corpus decisions (the
    C4/Gopher defaults assume natural language; a code or synthetic-text
    corpus disables the stopword rule). Deterministic end-to-end:
    rerunning over the same warehouse produces byte-identical shards
    (hash-ordered survivors, stable shard ids)."""
    statuses = ("ok", "degraded") if include_degraded else ("ok",)
    ext = (wh.read_table(spark, out_dir, "extracted")
           .filter(F.col("status").isin(*statuses))
           .select("url", "bucket", "lang", "status", "extracted_text"))

    toks = F.regexp_extract_all(F.lower(F.col("extracted_text")),
                                F.lit(ts._WORD_RE), F.lit(0))
    base = ext.select(
        "url", "bucket", "lang", "status",
        ts.pii_scrub_expr(F.col("extracted_text")).alias("text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda w: w.isin(*ts._STOP["en"])))
        .cast("bigint").alias("stop_hits"))

    # repetition gate: top-token mass in basis points (the one extra
    # shuffle; same rule + threshold as queries/textstats.corpus_filter)
    per_tok = (ext.select("url", F.explode(toks).alias("tok"))
               .groupBy("url", "tok").agg(F.count("*").alias("c")))
    rep = (per_tok.groupBy("url")
           .agg(F.floor(F.max("c") * 10000.0 / F.sum("c"))
                .cast("bigint").alias("top_token_bp")))

    reason = (F.when(F.col("n_tokens") < min_words, "too_short")
              .when(F.lit(require_stopwords)
                    & (F.col("stop_hits") == 0), "no_stopwords")
              .when(F.coalesce(F.col("top_token_bp"), F.lit(0))
                    > max_top_bp, "repetitive")
              .otherwise("ok"))
    # exact dedup hashes the SCRUBBED text (what ships is what is hashed).
    # ``rep`` has one row per url, so the reason counts sum to the input
    # count; the ok group's distinct hashes, plus one for any null (the
    # dedup window's nulls are one group), are the exact-dedup survivors
    gated = (base.join(rep, "url", "left")
             .withColumn("reason", reason)
             .withColumn("content_hash", content_hash_col(F.col("text"))))
    with job_description(spark, "curate:gate"):
        groups = {r["reason"]: r for r in gated.groupBy("reason").agg(
            F.count("*").alias("n"),
            F.countDistinct("content_hash").alias("hashes"),
            F.max(F.col("content_hash").isNull()).alias("null_hash"))
            .collect()}
    ok = groups.get("ok") or {"n": 0, "hashes": 0, "null_hash": False}
    n_unique = ok["hashes"] + int(ok["null_hash"])

    # lowest url wins so the survivor set is replay-stable
    dw = Window.partitionBy("content_hash").orderBy("url")
    deduped = (gated.filter(F.col("reason") == "ok")
               .withColumn("rn", F.row_number().over(dw))
               .filter(F.col("rn") == 1)
               .drop("rn", "stop_hits", "top_token_bp", "reason"))

    # near-dup cluster removal (MinHash-LSH pairs -> connected
    # components -> keep canonical) on top of exact dedup
    if near_dup:
        with job_description(spark, "curate:near_dup"):
            deduped = _near_dup_survivors(deduped)

    # shard_id = exclusive token prefix sum div budget, in (bucket, url)
    # order — a total order because (bucket, url) is unique
    packed = (prefix_sum(deduped, "bucket", "url", F.col("n_tokens"), "pre")
              .withColumn("shard_id",
                          F.expr(f"div(pre, {int(shard_tokens)})")
                          .cast("bigint"))
              .select("url", "lang", "status", "text", "n_tokens",
                      "content_hash", "shard_id"))

    corpus = os.path.join(dest_dir, "corpus")
    with job_description(spark, "curate:write"):
        (packed.repartition("shard_id")
         .sortWithinPartitions("shard_id", "url")
         .write.mode("overwrite").partitionBy("shard_id").parquet(corpus))

    # read with the written schema: no footer-inference job, and a
    # corpus of no rows (a shard-less dir) reads as empty
    with job_description(spark, "curate:stats"):
        stats = (spark.read.schema(packed.schema).parquet(corpus)
                 .agg(F.count("*").alias("docs"),
                      F.sum("n_tokens").alias("tokens"),
                      F.countDistinct("shard_id").alias("shards")).first())
    report = {
        "n_input": sum(g["n"] for g in groups.values()),
        "dropped_by_reason": {k: g["n"] for k, g in sorted(groups.items())
                              if k != "ok"},
        "n_passed_gates": ok["n"],
        "n_exact_dups_removed": ok["n"] - n_unique,
        # packing drops no row: the corpus holds every near-dup survivor
        "n_near_dups_removed": n_unique - stats["docs"],
        "n_corpus_docs": stats["docs"],
        "total_tokens": int(stats["tokens"] or 0),
        "n_shards": stats["shards"],
        "shard_tokens_budget": int(shard_tokens),
    }
    with open(os.path.join(dest_dir, "_curation_report.json"), "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    return report
