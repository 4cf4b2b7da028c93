"""Corpus-curation operators a 100 TB training-data pipeline runs after
filtering/dedup: cardinality sketches, deterministic sampling, shard
packing. All DIAGNOSTICS (the 50-entry driver window is full) but every
one is oracle-verified by the local parity suite — the sketches and
samples here are *deterministic md5-hash constructions*, so unlike HLL
(`events_approx_users`, rows-only by design) DuckDB reproduces them
bit-for-bit.

Portability: 48-bit md5-prefix hashes (≤2^53, exact in doubles should a
reader ever cast) and pure BIGINT arithmetic for estimates — no float
division anywhere near a comparison boundary.

Scale design (10^12 rows):
- KMV sketch: the k-minimum-values estimator merges by union+truncate, so
  the plan takes k smallest per (key, salt) through a sort-based window
  (spillable) before the per-key merge — no stage holds a distinct set
  in memory. Estimate = (k-1) * 2^48 div kth_hash, integer math.
- uniform sample: map-only hash predicate, no shuffle, any rate.
- stratified sample: per-stratum smallest-k hashes via one window; ties
  broken on doc_id so the selection is total-ordered and replayable.
  (A pathologically hot stratum would reuse the KMV salt-merge shape.)
- shard packing: global running token sum via the two-phase distributed
  prefix sum — per-range partials, tiny offsets table window, broadcast
  join back — not a single-partition window over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t

_H48_MAX = 1 << 48
_KMV_K = 256
_SAMPLE_PCT = 10            # uniform sample rate, percent
_STRATA_QUOTA = 20          # docs kept per lang stratum
_SHARD_TOKENS = 20000       # token budget per training shard
# doc_ids per prefix-sum range: FLOOR only. The actual range width scales
# as sqrt(max doc_id) so BOTH phases stay bounded — a fixed width makes
# the offsets table n/width rows, which at 10^12 docs is a 2x10^9-row
# SINGLE-PARTITION window (the exact shape the two-phase design exists to
# avoid). sqrt sizing gives ~10^6 ranges of ~10^6 docs each at 10^12:
# the within-range window partitions spill-sort locally and the offsets
# window stays driver-trivial. Shard assignment is invariant to the
# width (prefix sums are partitioning-free), so the oracle is unchanged.
_RANGE_MIN = 500


def _h48(col):
    """Portable 48-bit integer hash (md5-prefix; exact under 2^53)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


_H48_SQL = "('0x' || substr(md5({x}), 1, 12))::BIGINT"

_TOKENS_SQL = "len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT"


def _token_count(col):
    return F.size(F.regexp_extract_all(F.lower(col),
                                       F.lit("[a-z0-9]+"), F.lit(0))
                  ).cast("bigint")


# --- KMV distinct-cardinality sketch ----------------------------------------

def events_kmv_users(spark, sf_dir):
    """Distinct users per event type via a k-minimum-values sketch.

    Two-phase: k smallest distinct hashes per (type, salt) via a
    sort-based window (spillable rank state — nothing ever holds a
    distinct set in memory), then union+sort+truncate per type over at
    most 16*k survivors — the mergeable-sketch shape. ``n_seen < k``
    means the sketch saw the whole distinct set and the estimate is
    exact."""
    ev = _t(spark, sf_dir, "events")
    h = (ev.select("event_type",
                   _h48(F.col("user_id").cast("string")).alias("h"))
         .distinct())
    # per-(type, salt) k smallest via a sort-based window: rank state is
    # spillable, so no stage ever materializes a distinct set in memory
    # (a collect_set partial would); the final per-type collect then sees
    # at most 16*k values
    w = Window.partitionBy("event_type", "salt").orderBy("h")
    partial = (h.withColumn("salt", (F.col("h") % 16).cast("int"))
               .withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= _KMV_K))
    merged = (partial.groupBy("event_type")
              .agg(F.slice(F.array_sort(F.collect_set("h")),
                           1, _KMV_K).alias("topk")))
    n_seen = F.size("topk").cast("bigint")
    kth = F.element_at("topk", _KMV_K)
    est = F.when(n_seen < _KMV_K, n_seen).otherwise(
        F.expr(f"div({_KMV_K - 1} * cast({_H48_MAX} as bigint), "
               f"element_at(topk, {_KMV_K}))"))
    return (merged.select("event_type",
                          n_seen.alias("n_seen"),
                          F.when(n_seen < _KMV_K, None).otherwise(kth)
                          .cast("bigint").alias("kth_hash"),
                          est.cast("bigint").alias("est_users")))


EVENTS_KMV_USERS_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_H48_SQL.format(x='user_id::VARCHAR')} AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), topk AS (
  SELECT event_type, count(*)::BIGINT AS n_seen,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
)
SELECT event_type, n_seen,
       kth_hash::BIGINT AS kth_hash,
       (CASE WHEN n_seen < {_KMV_K} THEN n_seen
             ELSE ({_KMV_K - 1} * {_H48_MAX}::BIGINT) // kth_hash
        END)::BIGINT AS est_users
FROM topk
"""


# --- deterministic sampling --------------------------------------------------

def sample_uniform(spark, sf_dir):
    """Hash-gated Bernoulli sample: keep doc iff h48(doc_id) falls in the
    lowest SAMPLE_PCT% of hash space. Map-only (no shuffle, no RNG
    state), replayable on any cluster size, and composable — a second
    pass at a lower rate keeps a strict subset."""
    docs = _t(spark, sf_dir, "documents")
    h = _h48(F.col("doc_id").cast("string"))
    return (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        "lang", h.alias("h"))
            .filter(F.col("h") * 100 < _SAMPLE_PCT * _H48_MAX)
            .select("doc_id", "lang", "h"))


SAMPLE_UNIFORM_SQL = f"""
SELECT doc_id::BIGINT AS doc_id, lang,
       {_H48_SQL.format(x='doc_id::VARCHAR')} AS h
FROM documents
WHERE {_H48_SQL.format(x='doc_id::VARCHAR')} * 100
      < {_SAMPLE_PCT} * {_H48_MAX}::BIGINT
"""


def sample_stratified(spark, sf_dir):
    """Per-language quota sample: the STRATA_QUOTA smallest-hash docs of
    each lang — deterministic, order-free, and stable under corpus
    growth (a doc leaves the sample only if displaced by a smaller
    hash). Tie-broken on doc_id so the cut is total-ordered."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        "lang",
                        _h48(F.col("doc_id").cast("string")).alias("h"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _STRATA_QUOTA)
            .select("doc_id", "lang", F.col("rn").cast("bigint").alias("rn")))


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id::BIGINT AS doc_id, lang, rn::BIGINT AS rn
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_H48_SQL.format(x='doc_id::VARCHAR')}, doc_id) AS rn
  FROM documents
) WHERE rn <= {_STRATA_QUOTA}
"""


# --- token-budget shard packing ----------------------------------------------

def prefix_sum(df, part: str, order: str, weight, out: str):
    """``df`` plus ``out``: the exclusive prefix sum of the ``weight``
    column in (``part``, ``order``) order, as bigint. ``order`` must be a
    total order within a part.

    TWO-PHASE, not a single-partition window over the corpus: per-part
    partials (a window inside each part), the part totals prefix-summed
    on a parts-sized table, broadcast-joined back. Each part must fit one
    task and the parts table must fit the driver; the result does not
    depend on how rows are split into parts (a prefix sum is
    partitioning-free). ``part`` is an existing column, so the output
    stays partitioned by it for a later window or aggregate on it."""
    pre_w = (Window.partitionBy(part).orderBy(order)
             .rowsBetween(Window.unboundedPreceding, -1))
    within = (df.withColumn("_w", weight)
              .withColumn(out, F.coalesce(F.sum("_w").over(pre_w),
                                          F.lit(0))))
    off_w = (Window.orderBy(part)
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (within.groupBy(part).agg(F.sum("_w").alias("_total"))
               .select(part, F.coalesce(F.sum("_total").over(off_w),
                                        F.lit(0)).alias("_off")))
    return (within.join(F.broadcast(offsets), part)
            .withColumn(out, (F.col("_off") + F.col(out)).cast("bigint"))
            .drop("_w", "_off"))


def _max_doc_id(sf_dir) -> int:
    """Largest ``doc_id`` of ``documents``, from the row-group statistics
    in its parquet footers, read on the driver (no Spark job); 0 when
    they carry none."""
    import pyarrow.dataset as ds

    return max([rg.statistics.get("doc_id", {}).get("max") or 0
                for f in ds.dataset(f"{sf_dir}/documents.parquet",
                                    format="parquet").get_fragments()
                for rg in f.row_groups], default=0)


def shard_pack(spark, sf_dir, range_size: int | None = None):
    """Assign docs (in doc_id order) to training shards of ~SHARD_TOKENS
    tokens: shard_id = exclusive-prefix-sum(tokens) div budget — the
    streaming greedy pack every shard writer uses.

    The prefix sum is ``prefix_sum`` over doc_id ranges. The range width
    is ~sqrt(max doc_id) so BOTH phases are bounded (~10^6 × ~10^6 at
    10^12 docs); a fixed width would push the offsets table itself past
    single-partition size at corpus scale. The max comes from the
    footers, so choosing the width runs no job. Shard assignment is
    width-invariant, so the single-window oracle SQL is unchanged and
    ``range_size`` stays testable."""
    import math

    if range_size is None:
        range_size = max(_RANGE_MIN, math.isqrt(_max_doc_id(sf_dir)) + 1)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _token_count(F.col("text")).alias("tokens"),
        F.expr(f"div(doc_id, {range_size})").alias("rng"))
    return (prefix_sum(docs, "rng", "doc_id", F.col("tokens"), "pre")
            .select("doc_id", "tokens",
                    F.expr(f"div(pre, {_SHARD_TOKENS})").cast("bigint")
                    .alias("shard_id")))


SHARD_PACK_SQL = f"""
SELECT doc_id::BIGINT AS doc_id,
       {_TOKENS_SQL} AS tokens,
       (coalesce(sum({_TOKENS_SQL}) OVER (
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
          AND 1 PRECEDING), 0) // {_SHARD_TOKENS})::BIGINT AS shard_id
FROM documents
"""


# --- benchmark decontamination -----------------------------------------------

_DECON_K = 8                # word-n-gram size (long enough to be specific)
_EVAL_DOCS = 10             # doc_id < N plays the held-out eval set


def _kgrams(toks, k):
    """Word-k-gram set from a materialized token array (same
    closure-hygiene rule as dedup._shingles: never inline the regexp)."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1),
                   F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " ")))


_KGRAMS_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - {km1}, 1) + 1),
    i -> array_to_string(list_slice(
           regexp_extract_all(lower(text), '[a-z0-9]+'), i, i + {km1}), ' ')))
""".format(km1=_DECON_K - 1)


def corpus_decontaminate(spark, sf_dir):
    """Eval-set contamination flags: a training doc is contaminated if it
    shares any word-8-gram with the held-out eval docs (the n-gram
    decontamination step run before any LLM training job; 8-grams are
    specific enough that one hit means real textual overlap, not chance).

    Scale design: the eval side is a benchmark — thousands of docs
    against a 10^12-doc corpus — so its distinct k-gram set broadcasts;
    the training side is one map-only shingle pass + a broadcast semi
    join + one groupBy(doc_id) shuffle. No corpus-vs-corpus join ever
    happens."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _tokens_arr(F.col("text")).alias("toks"))
    grams = docs.select(
        "doc_id", F.explode(_kgrams(F.col("toks"), _DECON_K)).alias("g"))
    eval_grams = (grams.filter(F.col("doc_id") < _EVAL_DOCS)
                  .select("g").distinct())
    hits = (grams.filter(F.col("doc_id") >= _EVAL_DOCS)
            .join(F.broadcast(eval_grams), "g")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    train = docs.filter(F.col("doc_id") >= _EVAL_DOCS).select("doc_id")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.when(F.coalesce(F.col("n_hits"), F.lit(0)) > 0, 1)
                    .otherwise(0).cast("bigint").alias("contaminated")))


def _tokens_arr(col):
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), F.lit(0))


CORPUS_DECONTAMINATE_SQL = f"""
WITH grams AS (
  SELECT doc_id::BIGINT AS doc_id, unnest({_KGRAMS_SQL}) AS g
  FROM documents
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id < {_EVAL_DOCS}
), hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hits
  FROM grams JOIN eval_grams USING (g)
  WHERE doc_id >= {_EVAL_DOCS}
  GROUP BY doc_id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
         AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id >= {_EVAL_DOCS}
"""


# events_kmv_users sits in the driver window: it replaced the HLL
# rows-only entry (relational.DIAGNOSTICS) so every driver-recorded
# query is oracle-backed — the KMV construction is deterministic md5
# math DuckDB reproduces exactly.
QUERIES: dict = {
    "events_kmv_users": (events_kmv_users, EVENTS_KMV_USERS_SQL),
}

DIAGNOSTICS = {
    "sample_uniform": (sample_uniform, SAMPLE_UNIFORM_SQL),
    "sample_stratified": (sample_stratified, SAMPLE_STRATIFIED_SQL),
    "shard_pack": (shard_pack, SHARD_PACK_SQL),
    "corpus_decontaminate": (corpus_decontaminate, CORPUS_DECONTAMINATE_SQL),
}
