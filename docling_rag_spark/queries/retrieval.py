"""Keyword (BM25) retrieval and hybrid vector+keyword fusion.

The reference serves pure pgvector cosine search (storage/db_storage.py:
134-146); production RAG stacks pair that with a keyword ranker and fuse
the two (pgvector's own docs recommend ts_rank+RRF hybrids). These two
operators add that surface Spark-first:

- ``text_bm25_topk`` — Okapi BM25 (k1=1.2, b=0.75) top-k over the
  ``documents`` table for a fixed 3-term query. Plan shape: one
  tokenize+tf scan (token array materialized ONCE per row — the HOF
  closure pitfall re-evaluates the regexp per lambda use otherwise)
  persisted as a 5-BIGINT/row projection, a single-row corpus-stats
  aggregate collected to driver literals, map-only scoring over the
  cached projection, TakeOrderedAndProject top-k. At 100 TB: the text
  is tokenized exactly once, stats is a tree-aggregate to one row,
  scoring never shuffles the corpus, top-k never sorts it.
  Portability: per-term scores are floor-scaled to e4 BIGINTs *before*
  the cross-term sum, so the only float addition happens in identical
  per-term expression order in both engines; ``ln`` inputs are built
  from BIGINT counts with identical casts.

- ``search_hybrid_rrf`` — Reciprocal Rank Fusion (Cormack et al. 2009,
  the fusion pgvector hybrid recipes use): top-50 candidates from exact
  cosine (query vec_id 0, embeddings⟷documents ids are 1:1) and from
  BM25, each ranked by (score desc, id asc), fused with
  ``floor(1e9 / (60 + rank))`` per system — INTEGER division on both
  engines, so fusion scores are exact BIGINTs with no float anywhere.
  The rank windows run on ≤50-row candidate sets (post-limit), never on
  the corpus, so the global row_number is O(k) not O(N).

Both are DIAGNOSTICS (the driver CORRECTNESS window is full at 50) with
full DuckDB oracles — tests/test_oracle_parity.py hash-checks them
exactly like driver rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t
from docling_rag_spark.queries.vectors import _dot, _dot_sql, _norm, _norm_sql

_BM25_TERMS = ("dup", "vector", "stream")  # df 25 / 382 / 391 of 500 at sf0.01
_TOPK = 10
_POOL = 50          # per-system candidate pool feeding the fusion
_RRF_K = 60         # standard RRF damping constant
_QUERY_VEC_ID = 0


# --- BM25 ---------------------------------------------------------------------

def _bm25_scores(spark, sf_dir):
    """(doc_id, dl, score_e4) for every document with score > 0."""
    docs = _t(spark, sf_dir, "documents")
    # Materialize the token array in its own projection: tf for each term
    # plus dl reference it 4x, and Catalyst will not inline a non-cheap
    # alias referenced that often (queries/dedup.py:74-85 documents the
    # 7x regression when the regexp lands inside the lambdas instead).
    tok = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.regexp_extract_all(F.lower(F.col("text")),
                             F.lit("[a-z0-9]+"), 0).alias("toks"))
    def _tf(term):
        # closure factory: a default-arg lambda reads as 2-ary to PySpark's
        # HOF binder (element, index) and silently compares tokens to ints
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    # Persist the narrow (doc_id, dl, tf_*) projection — 5 BIGINTs/row —
    # so the regexp tokenize scan (the dominant cost) runs ONCE: the
    # stats aggregate materializes the cache, scoring re-reads it.
    # Without this the broadcast-stats job and the scoring pass each
    # re-tokenize the corpus (2x; 4x when the hybrid fusion rebuilds its
    # pool) — at 100 TB that is re-reading 100 TB of text per pass,
    # while the cached projection is ~40 bytes/doc on MEMORY_AND_DISK.
    from pyspark import StorageLevel
    base = tok.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[_tf(term).cast("bigint").alias(f"tf_{i}")
          for i, term in enumerate(_BM25_TERMS)]
    ).persist(StorageLevel.MEMORY_AND_DISK)
    srow = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("bigint"))
          .cast("bigint").alias(f"df_{i}")
          for i in range(len(_BM25_TERMS))]).collect()[0]
    n_docs = F.lit(int(srow["n_docs"])).cast("bigint")
    sum_dl = F.lit(int(srow["sum_dl"])).cast("bigint")
    dfs = [F.lit(int(srow[f"df_{i}"])).cast("bigint")
           for i in range(len(_BM25_TERMS))]

    def term_score(i):
        # identical operation order as the SQL twin below; stats enter as
        # literal BIGINTs (same values, same casts, same expression tree)
        idf = F.log(F.lit(1.0)
                    + ((n_docs - dfs[i]).cast("double") + F.lit(0.5))
                    / (dfs[i].cast("double") + F.lit(0.5)))
        tfd = F.col(f"tf_{i}").cast("double")
        dl_ratio = ((F.col("dl") * n_docs).cast("double")
                    / sum_dl.cast("double"))
        part = (tfd * F.lit(2.2)) / (
            tfd + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * dl_ratio))
        return F.when(F.col(f"tf_{i}") > 0,
                      F.floor(idf * part * F.lit(10000.0)).cast("bigint")
                      ).otherwise(F.lit(0).cast("bigint"))

    score = sum((term_score(i) for i in range(1, len(_BM25_TERMS))),
                term_score(0))
    return (base.select("doc_id", "dl", score.alias("score_e4"))
            .filter(F.col("score_e4") > 0))


def text_bm25_topk(spark, sf_dir):
    return (_bm25_scores(spark, sf_dir)
            .orderBy(F.desc("score_e4"), F.asc("doc_id")).limit(_TOPK))


def _bm25_base_sql():
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS))
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in range(len(_BM25_TERMS)))
    terms = " + ".join(
        f"""(CASE WHEN b.tf_{i} > 0 THEN
          floor(ln(1.0 + ((s.n_docs - s.df_{i})::DOUBLE + 0.5)
                         / (s.df_{i}::DOUBLE + 0.5))
                * ((b.tf_{i}::DOUBLE * 2.2)
                   / (b.tf_{i}::DOUBLE
                      + 1.2 * (0.25 + 0.75 * ((b.dl * s.n_docs)::DOUBLE
                                              / s.sum_dl::DOUBLE))))
                * 10000.0)::BIGINT ELSE 0 END)"""
        for i in range(len(_BM25_TERMS)))
    return f"""
tok AS (
  SELECT doc_id::BIGINT AS doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents),
base AS (
  SELECT doc_id, len(toks)::BIGINT AS dl,
         {tf_cols}
  FROM tok),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
         {df_cols}
  FROM base),
bm25 AS (
  SELECT b.doc_id, b.dl, ({terms}) AS score_e4
  FROM base b CROSS JOIN stats s)
"""


BM25_TOPK_SQL = f"""
WITH {_bm25_base_sql()}
SELECT doc_id, dl, score_e4 FROM bm25 WHERE score_e4 > 0
ORDER BY score_e4 DESC, doc_id ASC LIMIT {_TOPK}
"""


# --- hybrid RRF ---------------------------------------------------------------

def search_hybrid_rrf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
         .select(F.col("embedding").alias("q_emb")))
    cos = F.floor(_dot(F.col("embedding"), F.col("q_emb"))
                  / (_norm(F.col("embedding")) * _norm(F.col("q_emb")))
                  * 1000000.0).cast("bigint")
    cos_pool = (emb.crossJoin(F.broadcast(q))
                .filter(F.col("vec_id") != _QUERY_VEC_ID)
                .select(F.col("vec_id").cast("bigint").alias("doc_id"),
                        cos.alias("cos_e6"))
                .orderBy(F.desc("cos_e6"), F.asc("doc_id")).limit(_POOL))
    bm_pool = (_bm25_scores(spark, sf_dir)
               .select("doc_id", "score_e4")
               .orderBy(F.desc("score_e4"), F.asc("doc_id")).limit(_POOL))
    # rank windows run on the <=_POOL-row pools, not the corpus
    rv = (cos_pool.withColumn(
        "r_vec", F.row_number().over(
            Window.orderBy(F.desc("cos_e6"), F.asc("doc_id")))
        .cast("bigint")).select("doc_id", "r_vec"))
    rb = (bm_pool.withColumn(
        "r_bm25", F.row_number().over(
            Window.orderBy(F.desc("score_e4"), F.asc("doc_id")))
        .cast("bigint")).select("doc_id", "r_bm25"))
    fused = (rv.join(rb, "doc_id", "full_outer")
             .select(
                 F.col("doc_id").cast("bigint").alias("doc_id"),
                 F.coalesce("r_vec", F.lit(0)).cast("bigint").alias("r_vec"),
                 F.coalesce("r_bm25", F.lit(0)).cast("bigint")
                 .alias("r_bm25"),
                 (F.when(F.col("r_vec").isNotNull(),
                         F.expr(f"1000000000 div ({_RRF_K} + r_vec)"))
                  .otherwise(F.lit(0))
                  + F.when(F.col("r_bm25").isNotNull(),
                           F.expr(f"1000000000 div ({_RRF_K} + r_bm25)"))
                  .otherwise(F.lit(0))).cast("bigint").alias("rrf_e9")))
    return fused.orderBy(F.desc("rrf_e9"), F.asc("doc_id")).limit(_TOPK)


HYBRID_RRF_SQL = f"""
WITH {_bm25_base_sql()},
q AS (SELECT embedding AS q_emb FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}),
cos_pool AS (
  SELECT e.vec_id::BIGINT AS doc_id,
         floor({_dot_sql('e.embedding', 'q.q_emb')}
               / ({_norm_sql('e.embedding')} * {_norm_sql('q.q_emb')})
               * 1000000.0)::BIGINT AS cos_e6
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {_QUERY_VEC_ID}
  ORDER BY cos_e6 DESC, doc_id ASC LIMIT {_POOL}),
bm_pool AS (
  SELECT doc_id, score_e4 FROM bm25 WHERE score_e4 > 0
  ORDER BY score_e4 DESC, doc_id ASC LIMIT {_POOL}),
rv AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_e6 DESC, doc_id ASC)
         ::BIGINT AS r_vec
  FROM cos_pool),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_e4 DESC, doc_id ASC)
         ::BIGINT AS r_bm25
  FROM bm_pool)
SELECT coalesce(rv.doc_id, rb.doc_id)::BIGINT AS doc_id,
       coalesce(rv.r_vec, 0)::BIGINT AS r_vec,
       coalesce(rb.r_bm25, 0)::BIGINT AS r_bm25,
       ((CASE WHEN rv.r_vec IS NOT NULL
              THEN 1000000000 // ({_RRF_K} + rv.r_vec) ELSE 0 END)
        + (CASE WHEN rb.r_bm25 IS NOT NULL
                THEN 1000000000 // ({_RRF_K} + rb.r_bm25) ELSE 0 END)
       )::BIGINT AS rrf_e9
FROM rv FULL OUTER JOIN rb ON rv.doc_id = rb.doc_id
ORDER BY rrf_e9 DESC, doc_id ASC LIMIT {_TOPK}
"""


QUERIES: dict = {}

DIAGNOSTICS = {
    "text_bm25_topk": (text_bm25_topk, BM25_TOPK_SQL),
    "search_hybrid_rrf": (search_hybrid_rrf, HYBRID_RRF_SQL),
}
