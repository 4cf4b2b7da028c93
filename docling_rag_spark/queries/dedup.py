"""Deduplication operators over ``documents`` — the training-data-pipeline
core: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hashing is md5-based so the DuckDB oracle reproduces Spark bit-for-bit
(Spark ``xxhash64``/``hash`` are not portable). Everything is JVM-side
DataFrame ops — no Python UDFs.

Scale design (100 TB):
- exact: single shuffle on the 128-bit content hash; map-side combine.
- minhash: shingle explode is map-only; the signature agg shuffles once on
  doc_id (128 perms folded per doc); the LSH band join shuffles on
  (band, signature) — the whole point of banding is that this join key is
  high-cardinality and uniform, so no skew. Candidate pairs (not full
  pairwise) are the only quadratic term and banding bounds them.
- simhash: map-only fingerprint per doc + one shuffle on doc_id; the pair
  scan first collapses IDENTICAL fingerprints (hamming-0 pairs come from
  within-group expansion — web corpora are template-heavy, so this is
  where most duplicate mass lives and it never touches the banded join),
  then blocks DISTINCT fingerprints by segment-combination banding —
  split the 48-bit fingerprint into hamming_max+3 = 9 segments and band
  on every 3-segment concatenation (C(9,3) = 84 bands); any pair within
  hamming 6 leaves ≥3 segments clean, so it shares ≥1 clean combo and an
  equi-join on (band, band_val) + exact hamming filter is EXACTLY the
  brute-force result at fingerprint level. Each pair is emitted EXACTLY
  ONCE — a join row survives only if its band is the pair's FIRST clean
  combo (a 2^9-entry lookup on the segment-equality mask of xor(sa,sb),
  evaluated inside the join stage) — so the pair volume never pays a
  distinct() exchange. Expanding fingerprint pairs through group
  membership is exact because hamming is a function of the fingerprints
  alone. Over-cap band buckets are NOT dropped: they re-block by a
  bit-rotated second combo extraction (pigeonhole holds for any
  partition); a pair is lost only if its first-clean bucket is over cap
  at level 1 AND its first-clean rotated bucket within it is over cap at
  level 2. Residual caps: per-bucket cap (1000 distinct fingerprints) at
  both levels, group cap (1000 docs) beyond which an identical-
  fingerprint group degrades to star edges through its minimum-id
  representative (component-equivalent, linear output). The DuckDB
  oracle for the lossless claim deliberately stays brute-force;
  realized recall under the caps is measured by ``dedup_simhash_recall``.
- jaccard: candidate generation via shared-shingle equi-join (no cross
  join); per-pair intersection counts come out of the join's groupBy.
  Shingles with document frequency > 64 are dropped from BOTH the
  intersection and the size terms (jaccard over discriminative shingles):
  one stop-shingle in k docs would otherwise make a k² join blowup. The
  oracle SQL applies the identical cap; ``dedup_shingle_df_stats`` exposes
  how much was dropped (the production job logs that row).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t

_P = 2147483647          # Mersenne prime 2^31-1 for the minhash permutations
# Production LSH shape (VERDICT r3 task 1): 128 permutations in 16 bands of
# 8 rows. Candidate probability is 1 - (1 - j^8)^16 — the S-curve midpoint
# sits at j ≈ (1/16)^(1/8) ≈ 0.707, giving ~0.95 recall at jaccard 0.8 and
# ~0.9999 at 0.9 (the 16-perm/4-band shape of rounds 1-3 was toy-scale:
# midpoint ≈ 0.5, far too permissive for near-dup removal).
# ``dedup_minhash_recall`` measures the realized recall per jaccard band
# against the exact inverted-index pairs; tests pin the ≥0.9 floor at 0.8.
_NUM_PERMS = 128
_BAND_SIZE = 8           # 16 bands × 8 rows
# 5-word shingles (the MinHash-literature production shape; rounds 1-4a
# used 3). Why it matters at scale: 3-word shingles are non-discriminative
# — measured at sf10 (500k docs) they generate 113M candidate doc-pairs of
# which only 59k (0.05%) clear the 0.05-jaccard floor, and at 10^9+ docs
# every common 3-word phrase exceeds any DF cap, so the capped jaccard
# degenerates (most shingles dropped from both the intersection AND size
# terms). 5-word shingles cut the sf10 candidate volume ~100x (126.6M ->
# 1.35M pair rows, same corpus) while the true near-dup pairs are
# unchanged (sf0.1 exact pairs at jaccard >= 0.8: 256 at k=3 vs 255 at
# k=5 — near-dups share long runs, junk pairs don't).
_SHINGLE_K = 5
_SIMHASH_BITS = 48       # ≤53 so pow(2, bit) stays exact in doubles
_WORD_RE = "[a-z0-9]+"


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(_WORD_RE), 0)


def _hex60(col):
    """Portable 60-bit integer hash of a string (md5-prefix based)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_HEX60_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def content_hash_col(col):
    """Canonical content hash: whitespace-collapsed lowercase md5 — ONE
    definition shared by every exact-dedup variant AND curation's
    exact-dedup gate (a drifted copy would silently split their hash
    spaces)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


_content_hash = content_hash_col


_CONTENT_HASH_SQL = ("md5(regexp_replace(trim(lower({x})), '\\s+', ' ', 'g'))")


def _shingles(toks, k=_SHINGLE_K):
    """Word-k-gram shingles from an ALREADY-MATERIALIZED token-array
    column. Callers must project the token array in a prior select
    (``_exploded_shingles``): passing the regexp expression directly
    embeds it inside this lambda's closure, where Catalyst re-evaluates
    the full-text regexp once PER SHINGLE POSITION — measured 7x slower
    at sf0.1 (4.4 s vs 0.65 s for the exploded scan)."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " ")))


def _exploded_shingles(docs):
    """(doc_id, sh) — the one shared shingle scan shape."""
    return (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        _tokens(F.col("text")).alias("toks"))
            .select("doc_id", F.explode(_shingles(F.col("toks"))).alias("sh")))


_SHINGLES_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - {km1}, 1) + 1),
    i -> array_to_string(list_slice(
           regexp_extract_all(lower(text), '[a-z0-9]+'), i, i + {km1}), ' ')))
""".format(km1=_SHINGLE_K - 1)


def _pair_structs(ds):
    """array<struct<doc_a,doc_b>> — all ordered pairs (i<j positionally)
    from an ALREADY-SORTED, ALREADY-MATERIALIZED array column. Bounded by
    len²/2 per row; callers cap the array length upstream. ``ds`` must be
    a plain column reference (HOF closure pitfall: an embedded expression
    would re-evaluate once per pair position)."""
    return F.flatten(F.transform(
        ds,
        lambda x, i: F.transform(
            F.slice(ds, i + F.lit(2),
                    F.greatest(F.size(ds) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))


# --- exact dedup -------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        _content_hash(F.col("text")).alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count("*").cast("bigint").alias("n_copies"),
                 F.min("doc_id").cast("bigint").alias("keeper_doc_id")))


DEDUP_EXACT_SQL = f"""
SELECT {_CONTENT_HASH_SQL.format(x='text')} AS content_hash,
       count(*)::BIGINT AS n_copies,
       min(doc_id)::BIGINT AS keeper_doc_id
FROM documents GROUP BY 1
"""


# --- n-gram Jaccard ----------------------------------------------------------

_JACCARD_MIN_BP = 500  # 0.05 in basis points (floor-scaled, engine-stable)
_JACCARD_DF_CAP = 64   # shingles in > CAP docs are non-discriminative: drop


# capped-shingle CTE body (portable: IN-subquery, not SEMI JOIN syntax).
# Shingles travel as 60-bit md5-prefix ints on both engines, so the join /
# grouping keys are 8 bytes and any hash collision reproduces identically.
_CAPPED_SH_CTES = f"""
sh0 AS (
  SELECT doc_id, {_HEX60_SQL.format(x='sh')} AS sh FROM (
    SELECT doc_id::BIGINT AS doc_id, unnest({_SHINGLES_SQL}) AS sh
    FROM documents)
), sh AS (
  SELECT doc_id, sh FROM sh0
  WHERE sh IN (SELECT sh FROM sh0 GROUP BY sh
               HAVING count(*) <= {_JACCARD_DF_CAP})
)"""


def dedup_ngram_jaccard(spark, sf_dir, df_cap: int | None = _JACCARD_DF_CAP,
                        min_bp: int = _JACCARD_MIN_BP):
    """Inverted-index jaccard: ONE pass computes shingles (the expensive
    regexp explode), ONE shuffle groups them into per-shingle posting
    lists; the DF cap is just ``size(list) <= CAP`` on the aggregate, and
    candidate pairs are generated map-side from each posting list (≤
    CAP·(CAP-1)/2 per shingle, a hard bound). A naive shingle self-join
    recomputes the explode per join side and shuffles every shingle row
    twice — this shape does neither.

    The posting table is persisted: three consumers read it (pair
    generation plus BOTH sides of the size join) and without the persist
    each re-runs the regexp explode + posting shuffle — measured 3x the
    scan cost at sf1 (9.9 s vs 4.3 s). At 100 TB the persisted table is
    the distinct-shingle set (8-byte key + ≤CAP ids), far smaller than
    re-reading and re-tokenizing the corpus per consumer."""
    from pyspark import StorageLevel
    docs = _t(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs).select(
        "doc_id", _hex60(F.col("sh")).alias("sh"))
    posting = (sh.groupBy("sh")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ds")))
    if df_cap is not None:
        # df_cap=None is the EXACT (uncapped) variant — the ground truth
        # the recall diagnostic below measures the capped path against
        posting = posting.filter(F.size("ds") <= df_cap)
    posting = posting.persist(StorageLevel.MEMORY_AND_DISK)
    # Materialize the cache EAGERLY: inside a single downstream job the
    # three consumer stages run concurrently and race to compute uncached
    # partitions redundantly (measured: lazy persist saved ~1 s of the 7 s
    # triple-compute; the eager count saves all of it).
    posting.count()
    # per-doc capped shingle counts, derived from the (small) posting table
    sizes = (posting.select(F.explode("ds").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count("*").cast("bigint").alias("n_sh")))
    pair_lists = posting.filter(F.size("ds") >= 2).select(
        F.explode(_pair_structs(F.col("ds"))).alias("p"))
    shared = (pair_lists.groupBy(F.col("p.doc_a").alias("doc_a"),
                                 F.col("p.doc_b").alias("doc_b"))
              .agg(F.count("*").cast("bigint").alias("shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("den", F.col("n_a") + F.col("n_b") - F.col("shared"))
            # den > 0 always holds on a well-formed corpus (doc_id unique
            # => union >= max(n_a, n_b) >= 1). Duplicate doc_id ROWS
            # (malformed input) double both posting and pair counts and
            # drive den to 0 or negative; under ANSI mode the division
            # then aborts the whole job. Guard first so bad input
            # degrades to dropped pairs, not a crash (oracle mirrors).
            .filter(F.col("den") > 0)
            .withColumn("jaccard_bp", F.floor(
                F.col("shared") * F.lit(10000.0) / F.col("den"))
                .cast("bigint"))
            .filter(F.col("jaccard_bp") >= min_bp)
            .select("doc_a", "doc_b", "shared", "jaccard_bp"))


DEDUP_JACCARD_SQL = f"""
WITH {_CAPPED_SH_CTES}, sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, shared,
       floor(shared * 10000.0 / (sa.n_sh + sb.n_sh - shared))::BIGINT
         AS jaccard_bp
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (sa.n_sh + sb.n_sh - shared) > 0
  AND floor(shared * 10000.0 / (sa.n_sh + sb.n_sh - shared)) >= {_JACCARD_MIN_BP}
"""


def dedup_shingle_df_stats(spark, sf_dir):
    """The 'logged drop count' for the DF cap: how many distinct shingles /
    exploded rows the cap removed. The production job materializes this one
    row next to the pair output so recall loss is observable, not silent."""
    docs = _t(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs)
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    return df.agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum((F.col("df") > _JACCARD_DF_CAP).cast("bigint"))
         .cast("bigint").alias("n_shingles_dropped"),
        F.sum(F.when(F.col("df") > _JACCARD_DF_CAP, F.col("df"))
               .otherwise(F.lit(0))).cast("bigint").alias("n_rows_dropped"),
        F.max("df").cast("bigint").alias("max_df"))


SHINGLE_DF_STATS_SQL = f"""
WITH sh AS (
  SELECT doc_id::BIGINT AS doc_id, unnest({_SHINGLES_SQL}) AS sh
  FROM documents
), df AS (
  SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY sh
)
SELECT count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN df > {_JACCARD_DF_CAP} THEN 1 ELSE 0 END)::BIGINT
         AS n_shingles_dropped,
       sum(CASE WHEN df > {_JACCARD_DF_CAP} THEN df ELSE 0 END)::BIGINT
         AS n_rows_dropped,
       max(df)::BIGINT AS max_df
FROM df
"""


# --- MinHash signatures + LSH band candidates --------------------------------
# permutation i: ((a_i * (h % p)) + b_i) % p  with arithmetically derived
# a_i, b_i (no literal tables; same formula on both engines).
#   a_i = (1103515245 * (i + 1) + 12345) % p   (odd LCG multiplier family)
#   b_i = (69069 * (i + 1) + 1) % p

_PERM_A = [(1103515245 * (i + 1) + 12345) % _P for i in range(_NUM_PERMS)]
_PERM_B = [(69069 * (i + 1) + 1) % _P for i in range(_NUM_PERMS)]


def minhash_sig_for(docs):
    """One wide agg (_NUM_PERMS min() columns, map-side combined) instead
    of a perm-count row blowup: the shuffle carries 128 partial mins per
    doc, not 128 copies of every shingle. ``stack`` unpivots the per-doc
    long (doc_id, perm_id, minhash) contract. ``docs`` is any
    (doc_id bigint, text) DataFrame — the warehouse curation job feeds
    dense-id'd extracted rows through the same machinery the oracle
    checks."""
    wide = _minhash_wide(docs)
    stack = ", ".join(f"{i}, m{i}" for i in range(_NUM_PERMS))
    return (wide.selectExpr(
        "doc_id", f"stack({_NUM_PERMS}, {stack}) AS (perm_id, minhash)")
        .select("doc_id", F.col("perm_id").cast("int").alias("perm_id"),
                F.col("minhash").cast("bigint").alias("minhash")))


def _minhash_wide(docs):
    """(doc_id, m0..m127): one shingle scan, one doc-keyed shuffle carrying
    128 map-side-combined partial mins per doc."""
    sh = _exploded_shingles(docs).withColumn("h", _hex60(F.col("sh")) % _P)
    aggs = [F.min((F.lit(_PERM_A[i]) * F.col("h") + F.lit(_PERM_B[i])) % _P)
            .cast("bigint").alias(f"m{i}") for i in range(_NUM_PERMS)]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sig(spark, sf_dir):
    return minhash_sig_for(_t(spark, sf_dir, "documents"))


def dedup_minhash_sig(spark, sf_dir):
    return _minhash_sig(spark, sf_dir)


MINHASH_SIG_SQL = f"""
WITH sh AS (
  SELECT doc_id::BIGINT AS doc_id, unnest({_SHINGLES_SQL}) AS sh
  FROM documents
), hashed AS (
  SELECT doc_id, {_HEX60_SQL.format(x='sh')} % {_P} AS h FROM sh
), perms AS (
  SELECT i::INT AS perm_id,
         (1103515245 * (i + 1) + 12345) % {_P} AS pa,
         (69069 * (i + 1) + 1) % {_P} AS pb
  FROM range({_NUM_PERMS}) t(i)
)
SELECT doc_id, perm_id,
       min((pa * h + pb) % {_P})::BIGINT AS minhash
FROM hashed CROSS JOIN perms
GROUP BY doc_id, perm_id
"""


def band_sigs_for(docs):
    """(doc_id, band, band_sig) LSH band signatures for any
    (doc_id bigint, text) DataFrame.

    Band signatures come straight off the wide signature row
    (md5(concat_ws) over each band's 8 minhash columns) instead of
    unpivoting to 128 rows/doc and re-aggregating them with
    collect_list+array_sort — the banding is a pure projection on the one
    doc-keyed shuffle, and the 16-row/doc unpivot happens after. Ordering
    matches the oracle's ``string_agg(... ORDER BY perm_id)`` because the
    column list is ascending perm_id."""
    wide = _minhash_wide(docs)
    band_cols = [
        F.md5(F.concat_ws("_", *[
            F.col(f"m{b * _BAND_SIZE + r}").cast("string")
            for r in range(_BAND_SIZE)])).alias(f"bs{b}")
        for b in range(_NUM_PERMS // _BAND_SIZE)]
    n_bands = _NUM_PERMS // _BAND_SIZE
    stack = ", ".join(f"{b}, bs{b}" for b in range(n_bands))
    return (wide.select("doc_id", *band_cols)
            .selectExpr("doc_id",
                        f"stack({n_bands}, {stack}) AS (band, band_sig)")
            .select("doc_id", F.col("band").cast("int").alias("band"),
                    "band_sig"))


# Per-(band, band_sig) bucket cap before star-edge fallback — the same
# template-cluster defense the simhash path carries (_SIMHASH_GROUP_CAP):
# a near-identical cluster of m docs shares all 16 band signatures, so the
# uncapped band self-join emits 16·m²/2 rows from ONE bucket (a 100k-doc
# template cluster — the dominant dup structure in web crawls — is 8·10¹³
# join rows). Above the cap the bucket degrades to star edges through its
# minimum-id representative: linear output, component-equivalent (every
# member still reaches every other through the rep, so dedup_components
# and plans/curate.py keep-one-per-cluster are unchanged). Realized
# pairwise recall under the cap stays measured by dedup_minhash_recall;
# dedup_minhash_group_stats exposes how many buckets capped.
_MINHASH_GROUP_CAP = 1000


def banded_pairs_for(bands, group_cap: int | None = _MINHASH_GROUP_CAP):
    """(doc_a, doc_b, n_shared_bands) candidate pairs from a
    (doc_id, band, band_sig) frame, with the per-bucket group cap.

    Shape: ONE shuffle on (band, band_sig) — the window computes bucket
    size + min-id rep without materializing member arrays (an over-cap
    bucket never becomes a collected row); in-cap buckets (≤ group_cap)
    expand to all pairs via the sorted-array HOF (bounded cap²/2 structs
    per bucket row), over-cap buckets emit (rep, member) star edges —
    O(m) rows. The final pair groupBy is candidate-bounded (≤ 16 bands
    per pair)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_sig")
    mem = bands.select(
        "doc_id", "band", "band_sig",
        F.count("*").over(w).alias("n"),
        F.min("doc_id").over(w).alias("rep"))
    small = mem.filter(F.col("n") >= 2)
    star = None
    if group_cap is not None:
        small = small.filter(F.col("n") <= group_cap)
        star = (mem.filter((F.col("n") > group_cap)
                           & (F.col("doc_id") != F.col("rep")))
                .select(F.col("rep").cast("bigint").alias("doc_a"),
                        F.col("doc_id").cast("bigint").alias("doc_b")))
    pairs = (small.groupBy("band", "band_sig")
             .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
             .select(F.explode(_pair_structs(F.col("ds"))).alias("p"))
             .select(F.col("p.doc_a").cast("bigint").alias("doc_a"),
                     F.col("p.doc_b").cast("bigint").alias("doc_b")))
    if star is not None:
        pairs = pairs.union(star)
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("bigint").alias("n_shared_bands")))


def minhash_pairs_for(docs, group_cap: int | None = _MINHASH_GROUP_CAP):
    """LSH candidate pairs for any (doc_id bigint, text) DataFrame."""
    return banded_pairs_for(band_sigs_for(docs), group_cap)


def dedup_minhash_pairs(spark, sf_dir):
    return minhash_pairs_for(_t(spark, sf_dir, "documents"))


_MINHASH_BANDS_SQL = f"""
  SELECT doc_id, (perm_id // {_BAND_SIZE})::INT AS band,
         md5(string_agg(minhash::VARCHAR, '_' ORDER BY perm_id)) AS band_sig
  FROM sig GROUP BY doc_id, (perm_id // {_BAND_SIZE})::INT
"""


def minhash_pairs_sql(group_cap: int | None = _MINHASH_GROUP_CAP) -> str:
    """DuckDB twin of ``minhash_pairs_for`` — the group cap + star-edge
    fallback mirrored EXACTLY (count/min window per bucket, in-cap full
    expansion, over-cap (rep, member) edges)."""
    cap_pred = "" if group_cap is None else f"\n  WHERE a.n <= {group_cap}"
    star = "" if group_cap is None else f"""
  UNION ALL
  SELECT rep AS doc_a, doc_id AS doc_b FROM mem
  WHERE n > {group_cap} AND doc_id <> rep"""
    return f"""
WITH sig AS ({MINHASH_SIG_SQL}),
bands AS ({_MINHASH_BANDS_SQL}),
mem AS (
  SELECT doc_id, band, band_sig,
         count(*) OVER (PARTITION BY band, band_sig) AS n,
         min(doc_id) OVER (PARTITION BY band, band_sig) AS rep
  FROM bands
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mem a JOIN mem b
    ON a.band = b.band AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id{cap_pred}{star}
)
SELECT doc_a, doc_b, count(*)::BIGINT AS n_shared_bands
FROM pairs GROUP BY doc_a, doc_b
"""


MINHASH_PAIRS_SQL = minhash_pairs_sql(_MINHASH_GROUP_CAP)


def dedup_minhash_group_stats(spark, sf_dir):
    """Cap observability for the MinHash band buckets (the twin of
    ``dedup_simhash_band_stats`` / ``dedup_shingle_df_stats``): bucket
    count, how many exceeded the group cap, the largest bucket, and the
    quadratic pair rows the star fallback avoided — the number a
    production run logs to prove the template-cluster defense engaged."""
    g = (band_sigs_for(_t(spark, sf_dir, "documents"))
         .groupBy("band", "band_sig")
         .agg(F.count("*").cast("bigint").alias("n")))
    over = F.col("n") > _MINHASH_GROUP_CAP
    saved = F.expr("n * (n - 1) DIV 2 - (n - 1)")
    return g.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(over.cast("bigint")).cast("bigint").alias("n_buckets_capped"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.when(over, saved).otherwise(0))
        .cast("bigint").alias("n_pair_rows_saved"))


MINHASH_GROUP_STATS_SQL = f"""
WITH sig AS ({MINHASH_SIG_SQL}),
bands AS ({_MINHASH_BANDS_SQL}),
g AS (
  SELECT band, band_sig, count(*)::BIGINT AS n
  FROM bands GROUP BY band, band_sig
)
SELECT count(*)::BIGINT AS n_buckets,
       sum(CASE WHEN n > {_MINHASH_GROUP_CAP} THEN 1 ELSE 0 END)::BIGINT
         AS n_buckets_capped,
       max(n)::BIGINT AS max_bucket,
       sum(CASE WHEN n > {_MINHASH_GROUP_CAP}
                THEN n * (n - 1) // 2 - (n - 1) ELSE 0 END)::BIGINT
         AS n_pair_rows_saved
FROM g
"""


# --- fuzzy-dedup recall under the caps/banding (VERDICT r3 task 1) ------------
# Both capped candidate paths (LSH banding for minhash, the per-bucket cap
# for simhash) trade recall for a bounded quadratic term. These diagnostics
# MEASURE that trade against the exact ground truth so the loss is a number
# in BASELINE.md, not a blind spot: per-band true-pair counts, caught
# counts, and floor-scaled recall. Ground truths are exact by construction
# (uncapped inverted-index jaccard; pigeonhole banding with the cap off is
# pytest-pinned equal to brute force), never the capped paths themselves.

_RECALL_MIN_BP = 5000  # measure recall over true pairs with jaccard >= 0.5


def dedup_minhash_recall(spark, sf_dir):
    """Realized LSH recall per jaccard band: true pairs (exact uncapped
    inverted-index jaccard >= 0.5) LEFT JOIN the 128-perm/16-band MinHash
    candidate set, grouped by floor(jaccard*10). Theory for 16 bands x 8
    rows: P(caught) = 1-(1-j^8)^16 (~0.95 at j=0.8); this reports the
    realized curve. Scale: the join keys are (doc_a, doc_b) pair ids —
    both sides are already candidate-bounded, no quadratic term."""
    true = dedup_ngram_jaccard(spark, sf_dir, df_cap=None,
                               min_bp=_RECALL_MIN_BP)
    cand = (minhash_pairs_for(_t(spark, sf_dir, "documents"))
            .select("doc_a", "doc_b", F.lit(1).alias("caught")))
    return (true.select("doc_a", "doc_b", "jaccard_bp")
            .join(cand, ["doc_a", "doc_b"], "left")
            .groupBy(F.expr("jaccard_bp div 1000").cast("bigint")
                     .alias("jaccard_band"))
            .agg(F.count("*").cast("bigint").alias("n_true"),
                 F.sum(F.coalesce(F.col("caught"), F.lit(0)))
                 .cast("bigint").alias("n_caught"))
            .withColumn("recall_bp",
                        F.floor(F.col("n_caught") * F.lit(10000.0)
                                / F.col("n_true")).cast("bigint")))


MINHASH_RECALL_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_HEX60_SQL.format(x='sh')} AS sh FROM (
    SELECT doc_id::BIGINT AS doc_id, unnest({_SHINGLES_SQL}) AS sh
    FROM documents)
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b,
         floor(shared * 10000.0 / (sa.n_sh + sb.n_sh - shared))::BIGINT
           AS jaccard_bp
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor(shared * 10000.0 / (sa.n_sh + sb.n_sh - shared))
        >= {_RECALL_MIN_BP}
), cand AS (
  SELECT doc_a, doc_b FROM ({MINHASH_PAIRS_SQL}) p
)
SELECT (jac.jaccard_bp // 1000)::BIGINT AS jaccard_band,
       count(*)::BIGINT AS n_true,
       sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_caught,
       floor(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             * 10000.0 / count(*))::BIGINT AS recall_bp
FROM jac LEFT JOIN cand c
  ON jac.doc_a = c.doc_a AND jac.doc_b = c.doc_b
GROUP BY 1
"""


# --- SimHash -----------------------------------------------------------------

def dedup_simhash(spark, sf_dir):
    """One wide agg (48 signed-sum columns) instead of a 48× bit-explode:
    the shuffle carries 48 partial balances per doc. The fingerprint folds
    the balances with exact integer powers of two."""
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        F.explode(F.array_distinct(_tokens(F.col("text"))))
                         .alias("tok"))
            .withColumn("h", _hex60(F.col("tok"))))
    aggs = [F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1,
                         1).otherwise(-1)).alias(f"b{b}")
            for b in range(_SIMHASH_BITS)]
    bal = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for b in range(_SIMHASH_BITS):
        fp = fp + F.when(F.col(f"b{b}") > 0,
                         F.lit(1 << b).cast("bigint")) \
                   .otherwise(F.lit(0).cast("bigint"))
    return bal.select("doc_id", fp.alias("simhash"))


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
           AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, {_HEX60_SQL.format(x='tok')} AS h FROM toks
), bits AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS bal
  FROM hashed CROSS JOIN (SELECT i::INT AS bit
                          FROM range({_SIMHASH_BITS}) t(i))
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN bal > 0 THEN pow(2.0, bit) ELSE 0.0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id
"""


_SIMHASH_MAX_HAMMING = 6
_SIMHASH_BAND_CAP = 1000   # max DISTINCT fingerprints per band bucket
_SIMHASH_GROUP_CAP = 1000  # docs per identical-fp group before star fallback

# Segment-COMBINATION banding (Manku/Jain/Das Sarma, WWW'07 §3, public):
# split the 48 bits into s = hamming_max + 3 segments and block on every
# 3-segment concatenation. hamming ≤ 6 leaves ≥ 3 of the 9 segments clean
# (pigeonhole), so every qualifying pair shares at least one clean
# 3-combo — recall-lossless exactly like 1-segment bands, but the band-key
# space grows from 2^7 to 2^15..2^18 per band. The old 7×7-bit partition
# had ≤896 possible buckets TOTAL and saturated at web scale: at 500k docs
# 792/832 buckets were over cap and the pair join ran 23×-over-linear
# (BENCH r4 sf10). C(9,3) = 84 bands; explode volume 84·|fingerprints| is
# one linear shuffle. Level 2 rotates the fingerprint by 2 bits before the
# same combo extraction — every segment boundary moves, so an over-cap
# level-1 bucket re-blocks by a genuinely different 9-way partition of the
# same bits (pigeonhole holds for any partition).
#
# Segment-count/combo-size trade (r4): hamming ≤ 6 dirties ≤ 6 segments,
# so ANY (s, c) with c ≤ s - hamming_max is recall-lossless by pigeonhole.
# A bigger combo widens the band key (more bits) which crushes RANDOM
# collisions exponentially — but this corpus's candidate mass is
# STRUCTURAL, not random: template near-miss clusters of 1k+ distinct
# fingerprints agree on nearly every segment, so they collide in any
# combo of their shared segments regardless of key width, and candidate
# work scales with band COUNT (each band re-probes the same cluster).
# Measured both shapes at sf10 (500k docs, local[32]): 9/3 = 84 bands,
# 1.016B candidates, 104 s; 10/4 = 210 bands, 1.16B candidates, 137 s —
# the wider key bought nothing and the 2.5x band count cost 30%. 9/3 is
# the minimum-band shape whose key space (2^15..2^18 per band) still
# bounds the uniform term at this scale; the per-bucket cap + level-2
# re-block bound the structural term (recall floor pytest-pinned).
_SIMHASH_N_SEGS = _SIMHASH_MAX_HAMMING + 3   # 9
_SIMHASH_COMBO_K = 3
assert _SIMHASH_COMBO_K <= _SIMHASH_N_SEGS - _SIMHASH_MAX_HAMMING, \
    "pigeonhole: a qualifying pair must always have a fully-clean combo"
_SIMHASH_ROT = 2                             # level-2 bit rotation


def _seg_ranges(bits: int, n: int):
    """n contiguous (lo, width) ranges covering ``bits`` bits."""
    base, extra = divmod(bits, n)
    out, lo = [], 0
    for i in range(n):
        w = base + (1 if i < extra else 0)
        out.append((lo, w))
        lo += w
    return tuple(out)


_SIMHASH_SEG_RANGES = _seg_ranges(_SIMHASH_BITS, _SIMHASH_N_SEGS)

# one row per band: (band, pl1, ps1, …, pl{c}, ps{c}) where segment j of
# fingerprint h is (h DIV pl_j) % ps_j — pure bigint arithmetic, so the
# extraction expression is IDENTICAL in Spark SQL and DuckDB (no engine-
# specific shift builtins, no sign-extension differences)
from itertools import combinations as _combinations  # noqa: E402

_COMBO_ROWS = tuple(
    (band,) + tuple(x for s in combo
                    for x in (1 << _SIMHASH_SEG_RANGES[s][0],
                              1 << _SIMHASH_SEG_RANGES[s][1]))
    for band, combo in enumerate(
        _combinations(range(_SIMHASH_N_SEGS), _SIMHASH_COMBO_K)))

_COMBO_SCHEMA = "band int, " + ", ".join(
    f"pl{j} bigint, ps{j} bigint"
    for j in range(1, _SIMHASH_COMBO_K + 1))

_COMBO_COLS = "band, " + ", ".join(
    f"pl{j}, ps{j}" for j in range(1, _SIMHASH_COMBO_K + 1))


def _band_val_expr(h: str, div: str, pre: str = "") -> str:
    """Concatenated-segment band value, Horner form:
    ((seg1·ps2 + seg2)·ps3 + seg3)… — identical arithmetic on both
    engines (``div``: Spark ``DIV`` / DuckDB ``//``; ``pre``: table
    alias prefix for the combo columns)."""
    val = f"(({h}) {div} {pre}pl1) % {pre}ps1"
    for j in range(2, _SIMHASH_COMBO_K + 1):
        val = (f"({val}) * {pre}ps{j}"
               f" + (({h}) {div} {pre}pl{j}) % {pre}ps{j}")
    return f"({val})"


# band_val = seg1·ps2·…·ps_c + seg2·ps3·…·ps_c + … + seg_c
_COMBO_VAL_EXPR = _band_val_expr("_bh", "DIV")


def _rot_expr(col: str, rot: int) -> str:
    """Left-rotate a non-negative ``_SIMHASH_BITS``-bit value by ``rot``
    bits, in arithmetic shared verbatim by Spark SQL and DuckDB."""
    if rot == 0:
        return col
    space = 1 << _SIMHASH_BITS
    return (f"(({col} * {1 << rot}) % {space}"
            f" + ({col} DIV {1 << (_SIMHASH_BITS - rot)}))")


# --- exactly-once pair emission (no distinct() shuffle) ----------------------
# A qualifying pair appears once per clean 3-combo (1..C(9,3) buckets), and
# the clean-segment set is a pure function of xor(sa, sb) — so instead of a
# corpus-pair-volume distinct() shuffle, each join output row keeps itself
# iff ITS band is the pair's FIRST clean combo (a 512-entry lookup on the
# 9-bit segment-equality mask). The filter runs inside the join stage: the
# ~(true pairs x <=84 repeats) rows that previously fed the distinct()
# exchange (98.7M rows / ~1.6 GB at sf1) never leave the stage at all.
_COMBO_SEGS = tuple(_combinations(range(_SIMHASH_N_SEGS), _SIMHASH_COMBO_K))

_FIRST_CLEAN = tuple(
    next((band for band, combo in enumerate(_COMBO_SEGS)
          if all((mask >> s) & 1 for s in combo)), -1)
    for mask in range(1 << _SIMHASH_N_SEGS))


def _clean_mask(x: str, div: str) -> str:
    """9-bit segment-equality mask of an xor value ``x`` (bit j set iff
    segment j of the two fingerprints agrees). ``div`` is the integer-
    division operator: ``DIV`` in Spark SQL, ``//`` in DuckDB — the rest
    of the arithmetic is shared verbatim."""
    return "(" + " + ".join(
        f"(CASE WHEN (({x}) {div} {1 << lo}) % {1 << w} = 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, (lo, w) in enumerate(_SIMHASH_SEG_RANGES)) + ")"


def _seg_explode(spark, df, band_alias, val_alias, keep, rot=0):
    """Explode the ``simhash`` column of ``df`` into one row per
    3-segment-combo band key (84 rows per fingerprint), keeping ``keep``
    columns. ``rot`` pre-rotates the fingerprint (level-2 re-block)."""
    combos = F.broadcast(spark.createDataFrame(list(_COMBO_ROWS),
                                               _COMBO_SCHEMA))
    return (df.withColumn("_bh", F.expr(_rot_expr("simhash", rot)))
            .crossJoin(combos)
            .withColumn(val_alias, F.expr(_COMBO_VAL_EXPR))
            .select(*keep, F.col("band").alias(band_alias),
                    F.col(val_alias).cast("bigint").alias(val_alias)))


def dedup_simhash_pairs(spark, sf_dir,
                        band_cap: int | None = _SIMHASH_BAND_CAP,
                        group_cap: int | None = _SIMHASH_GROUP_CAP):
    """Hamming-ball pair join, structured for template-heavy web corpora:

    1. Group identical fingerprints. Hamming-0 pairs come from
       within-group expansion (never the banded join); groups above
       ``group_cap`` degrade to star edges through their minimum-id
       representative — linear output, component-equivalent (all members
       share one fingerprint, so transitive closure is unchanged).
    2. Band DISTINCT fingerprints by the level-1 pigeonhole partition.
       Buckets ≤ ``band_cap`` self-join directly.
    3. Buckets over the cap re-block by the bit-rotated level-2 combo
       partition (pigeonhole holds for any partition of the 48 bits);
       only level-2 buckets still over the cap are dropped.
    4. Fingerprint pairs with 1 ≤ hamming ≤ 6 expand through group
       membership — exact, because hamming is a function of fingerprints.

    Pairs are emitted EXACTLY ONCE (no distinct() exchange): a join row
    survives only if its band is the pair's first clean combo, and — at
    level 2 — its band2 the first clean rotated combo. Cap semantics are
    therefore first-combo-scoped: a pair is lost iff its first-clean
    level-1 bucket is over cap AND the first-clean level-2 bucket inside
    it is over cap (marginally tighter than the any-clean-bucket rule the
    distinct() version had; ``dedup_simhash_recall`` measures the
    realized cost and the pytest floor pins it).

    With both caps ``None`` the result is EXACTLY brute force
    (``tests/test_dedup_ops.py`` pins the equivalence against the
    brute-force SQL); with caps, the oracle twin mirrors them IDENTICALLY
    so the correctness gate holds at every SF, and the realized recall
    cost is measured by ``dedup_simhash_recall`` (r3's capped-path recall
    was 0.17-0.26 at sf1 because doc-level banding put every
    template-cluster pair in over-cap buckets; fingerprint-level banding
    + the level-2 re-block recovers them)."""
    from pyspark import StorageLevel

    fp = (dedup_simhash(spark, sf_dir)
          .persist(StorageLevel.MEMORY_AND_DISK))
    cnt = (fp.groupBy("simhash")
           .agg(F.count("*").cast("bigint").alias("n"),
                F.min("doc_id").cast("bigint").alias("rep"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    cnt.count()  # eager: 4 consumers would race the cache otherwise

    if group_cap is not None:
        okg = cnt.filter(F.col("n") <= group_cap).select("simhash")
        over = cnt.filter(F.col("n") > group_cap).select("simhash", "rep")
        okmem = fp.join(okg, "simhash", "left_semi")
        star = (fp.join(over, "simhash")
                .filter(F.col("doc_id") != F.col("rep"))
                .select(F.col("rep").cast("bigint").alias("doc_a"),
                        F.col("doc_id").cast("bigint").alias("doc_b")))
        mem = okmem.select("simhash", "doc_id").union(
            over.select("simhash", F.col("rep").alias("doc_id")))
    else:
        okmem, star = fp, None
        mem = fp.select("simhash", "doc_id")

    h0 = (okmem.groupBy("simhash")
          .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
          .filter(F.size("ds") >= 2)
          .select(F.explode(_pair_structs(F.col("ds"))).alias("p"))
          .select(F.col("p.doc_a").cast("bigint").alias("doc_a"),
                  F.col("p.doc_b").cast("bigint").alias("doc_b")))
    if star is not None:
        h0 = h0.union(star)
    h0 = h0.withColumn("hamming", F.lit(0).cast("bigint"))

    b1 = _seg_explode(spark, cnt, "band", "band_val", ["simhash"])
    if band_cap is not None:
        s1 = b1.groupBy("band", "band_val").agg(F.count("*").alias("bn"))
        # the OVER-cap bucket list is what's tiny now (≤ 84·|fp|/cap rows);
        # the ok list is ~every non-empty bucket and must not broadcast
        over1 = s1.filter(F.col("bn") > band_cap).select("band", "band_val")
        small1 = b1.join(F.broadcast(over1), ["band", "band_val"],
                         "left_anti")
        big1 = b1.join(F.broadcast(over1), ["band", "band_val"],
                       "left_semi")
    else:
        small1, big1 = b1, None

    fc_arr = "array(" + ",".join(str(v) for v in _FIRST_CLEAN) + ")"

    def _self_join(df, keys, level2=False):
        # per-bucket pair expansion with BOTH gates INSIDE the join stage:
        # the hamming gate (random band-key collisions almost never survive
        # hamming ≤ 6 of 48) and the exactly-once gate (keep the row iff
        # this band is the pair's FIRST clean combo — and, at level 2, iff
        # this rotated band2 is the first clean rotated combo). Every
        # surviving pair leaves the stage exactly once, so no downstream
        # distinct() exchange exists at all.
        a, b = df.alias("a"), df.alias("b")
        cond = F.col("a.simhash") < F.col("b.simhash")
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        keep = [F.col(f"a.{k}").alias(k) for k in keys
                if k in ("band", "band2")]
        j = (a.join(b, cond)
             .select(F.col("a.simhash").alias("sa"),
                     F.col("b.simhash").alias("sb"), *keep)
             .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                     <= _SIMHASH_MAX_HAMMING)
             .filter(F.expr(
                 "band = element_at(" + fc_arr + ", "
                 + _clean_mask("sa ^ sb", "DIV") + " + 1)")))
        if level2:
            j = j.filter(F.expr(
                "band2 = element_at(" + fc_arr + ", "
                + _clean_mask(_rot_expr("(sa ^ sb)", _SIMHASH_ROT), "DIV")
                + " + 1)"))
        return j.select("sa", "sb")

    cand = _self_join(small1, ["band", "band_val"])
    if big1 is not None:
        b2 = _seg_explode(spark, big1.select("simhash", "band", "band_val")
                          .withColumnRenamed("band", "band1")
                          .withColumnRenamed("band_val", "band1_val"),
                          "band2", "band2_val",
                          ["simhash", "band1", "band1_val"],
                          rot=_SIMHASH_ROT)
        b2 = (b2.withColumnRenamed("band1", "band")
              .withColumnRenamed("band1_val", "band_val"))
        s2 = (b2.groupBy("band", "band_val", "band2", "band2_val")
              .agg(F.count("*").alias("bn")))
        over2 = (s2.filter(F.col("bn") > band_cap)
                 .select("band", "band_val", "band2", "band2_val"))
        small2 = b2.join(F.broadcast(over2),
                         ["band", "band_val", "band2", "band2_val"],
                         "left_anti")
        cand = cand.union(
            _self_join(small2, ["band", "band_val", "band2", "band2_val"],
                       level2=True))

    rp = (cand
          .withColumn("hamming",
                      F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                      .cast("bigint")))
    cross = (rp.join(mem.select(F.col("simhash").alias("sa"),
                                F.col("doc_id").alias("da")), "sa")
             .join(mem.select(F.col("simhash").alias("sb"),
                              F.col("doc_id").alias("db")), "sb")
             .select(F.least("da", "db").cast("bigint").alias("doc_a"),
                     F.greatest("da", "db").cast("bigint").alias("doc_b"),
                     "hamming"))
    return h0.select("doc_a", "doc_b", "hamming").union(cross)


# Brute-force twin (no blocking at all): the independent proof that the
# banded join with the cap DISABLED loses no pair (pytest-pinned).
SIMHASH_PAIRS_BRUTE_SQL = f"""
WITH fp AS ({SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


def _combo_values() -> str:
    return ", ".join("(" + ", ".join(str(x) for x in row) + ")"
                     for row in _COMBO_ROWS)


def _sql_band_val(h: str) -> str:
    """DuckDB mirror of ``_COMBO_VAL_EXPR`` (``//`` == Spark's ``DIV`` on
    non-negative bigints)."""
    return _band_val_expr(h, "//", "s.")


def _sql_rot(h: str) -> str:
    space = 1 << _SIMHASH_BITS
    return (f"(({h} * {1 << _SIMHASH_ROT}) % {space}"
            f" + ({h} // {1 << (_SIMHASH_BITS - _SIMHASH_ROT)}))")


def _mask_values() -> str:
    """(mask, first-clean-band) rows for the exactly-once lookup —
    the DuckDB mirror of the Spark side's ``element_at`` array literal."""
    return ", ".join(f"({m}, {fb})" for m, fb in enumerate(_FIRST_CLEAN))


def simhash_pairs_sql(band_cap: int | None = _SIMHASH_BAND_CAP,
                      group_cap: int | None = _SIMHASH_GROUP_CAP) -> str:
    """DuckDB twin of ``dedup_simhash_pairs`` at the same caps — both are
    mirrored (like ``_JACCARD_DF_CAP``) so the hash compare holds at every
    SF, including ones where buckets/groups overflow. Both caps ``None``
    degenerates to the independent brute-force twin."""
    if band_cap is None and group_cap is None:
        return SIMHASH_PAIRS_BRUTE_SQL
    bc = (1 << 62) if band_cap is None else band_cap
    gc = (1 << 62) if group_cap is None else group_cap
    return f"""
WITH fp AS ({SIMHASH_SQL}),
cnt AS (
  SELECT simhash, count(*)::BIGINT AS n, min(doc_id)::BIGINT AS rep
  FROM fp GROUP BY simhash
), okmem AS (
  SELECT f.simhash, f.doc_id FROM fp f
  JOIN cnt c USING (simhash) WHERE c.n <= {gc}
), h0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM okmem a JOIN okmem b
    ON a.simhash = b.simhash AND a.doc_id < b.doc_id
  UNION ALL
  SELECT c.rep, f.doc_id FROM fp f JOIN cnt c USING (simhash)
  WHERE c.n > {gc} AND f.doc_id != c.rep
), mem AS (
  SELECT simhash, doc_id FROM okmem
  UNION ALL
  SELECT simhash, rep AS doc_id FROM cnt WHERE n > {gc}
), combos AS (
  SELECT * FROM (VALUES {_combo_values()})
  t({_COMBO_COLS})
), b1 AS (
  SELECT c.simhash, s.band, {_sql_band_val('c.simhash')} AS band_val
  FROM cnt c CROSS JOIN combos s
), s1 AS (
  SELECT band, band_val, count(*)::BIGINT AS bn FROM b1 GROUP BY 1, 2
), small1 AS (
  SELECT b1.* FROM b1 JOIN s1 USING (band, band_val) WHERE s1.bn <= {bc}
), big1 AS (
  SELECT b1.* FROM b1 JOIN s1 USING (band, band_val) WHERE s1.bn > {bc}
), b2 AS (
  SELECT g.simhash, g.band, g.band_val, s.band AS band2,
         {_sql_band_val('g.rh')} AS band2_val
  FROM (SELECT big1.*, {_sql_rot('simhash')} AS rh FROM big1) g
  CROSS JOIN combos s
), s2 AS (
  SELECT band, band_val, band2, band2_val, count(*)::BIGINT AS bn
  FROM b2 GROUP BY 1, 2, 3, 4
), small2 AS (
  SELECT b2.* FROM b2 JOIN s2 USING (band, band_val, band2, band2_val)
  WHERE s2.bn <= {bc}
), masks AS (
  SELECT * FROM (VALUES {_mask_values()}) t(mask, fb)
), cand AS (
  SELECT a.simhash AS sa, b.simhash AS sb
  FROM small1 a JOIN small1 b USING (band, band_val)
  JOIN masks m
    ON m.mask = {_clean_mask('xor(a.simhash, b.simhash)', '//')}
  WHERE a.simhash < b.simhash AND band = m.fb
  UNION ALL
  SELECT a.simhash, b.simhash
  FROM small2 a JOIN small2 b USING (band, band_val, band2, band2_val)
  JOIN masks m1
    ON m1.mask = {_clean_mask('xor(a.simhash, b.simhash)', '//')}
  JOIN masks m2
    ON m2.mask = {_clean_mask(_sql_rot('xor(a.simhash, b.simhash)'), '//')}
  WHERE a.simhash < b.simhash AND band = m1.fb AND band2 = m2.fb
), rp AS (
  SELECT sa, sb, bit_count(xor(sa, sb))::BIGINT AS hamming FROM cand
  WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_MAX_HAMMING}
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
       0::BIGINT AS hamming
FROM h0
UNION ALL
SELECT least(ma.doc_id, mb.doc_id)::BIGINT,
       greatest(ma.doc_id, mb.doc_id)::BIGINT, rp.hamming
FROM rp
JOIN mem ma ON ma.simhash = rp.sa
JOIN mem mb ON mb.simhash = rp.sb
"""


SIMHASH_PAIRS_SQL = simhash_pairs_sql(_SIMHASH_BAND_CAP, _SIMHASH_GROUP_CAP)


def dedup_simhash_band_stats(spark, sf_dir):
    """Bucket-size distribution of the level-1 pigeonhole blocking over
    DISTINCT fingerprints (the space the pair join actually banded since
    the fingerprint-group refactor): candidate-pair work is
    sum(n·(n-1)/2) over buckets — this row is the scale evidence that the
    banded join's quadratic term stays bounded, and n_buckets_capped
    counts how many buckets fall through to the level-2 re-block."""
    fp = dedup_simhash(spark, sf_dir)
    cnt = fp.groupBy("simhash").agg(F.count("*").alias("gn"))
    sizes = (_seg_explode(spark, cnt, "band", "band_val", ["simhash"])
             .groupBy("band", "band_val").agg(F.count("*").alias("n")))
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
         .alias("candidate_pairs"),
        F.sum((F.col("n") > _SIMHASH_BAND_CAP).cast("bigint"))
         .cast("bigint").alias("n_buckets_capped"))


SIMHASH_BAND_STATS_SQL = f"""
WITH fp AS ({SIMHASH_SQL}),
cnt AS (SELECT simhash FROM fp GROUP BY simhash),
combos AS (SELECT * FROM (VALUES {_combo_values()})
           t({_COMBO_COLS})),
bands AS (
  SELECT c.simhash, s.band, {_sql_band_val('c.simhash')} AS band_val
  FROM cnt c CROSS JOIN combos s
), sizes AS (
  SELECT band, band_val, count(*)::BIGINT AS n FROM bands GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_buckets,
       max(n)::BIGINT AS max_bucket,
       CAST(sum(n * (n - 1) / 2.0) AS BIGINT) AS candidate_pairs,
       sum(CASE WHEN n > {_SIMHASH_BAND_CAP} THEN 1 ELSE 0 END)::BIGINT
         AS n_buckets_capped
FROM sizes
"""


def dedup_simhash_recall(spark, sf_dir):
    """Realized recall of the CAPPED pigeonhole join per hamming distance:
    true pairs (banding with the cap off == brute force, pytest-pinned)
    LEFT JOIN the capped pair set. Quantifies exactly what the per-bucket
    cap drops — the r3 blind spot. The true side is the uncapped banded
    join (sum n*(n-1)/2 over buckets — bounded, never the corpus square);
    run it at sf0.1/sf1 for the BASELINE.md numbers, not in the bench
    suite."""
    true = dedup_simhash_pairs(spark, sf_dir, band_cap=None,
                               group_cap=None)
    capped = (dedup_simhash_pairs(spark, sf_dir)
              .select("doc_a", "doc_b", F.lit(1).alias("caught")))
    return (true.join(capped, ["doc_a", "doc_b"], "left")
            .groupBy(F.col("hamming"))
            .agg(F.count("*").cast("bigint").alias("n_true"),
                 F.sum(F.coalesce(F.col("caught"), F.lit(0)))
                 .cast("bigint").alias("n_caught"))
            .withColumn("recall_bp",
                        F.floor(F.col("n_caught") * F.lit(10000.0)
                                / F.col("n_true")).cast("bigint")))


SIMHASH_RECALL_SQL = f"""
WITH t AS ({SIMHASH_PAIRS_BRUTE_SQL}),
c AS (SELECT doc_a, doc_b FROM ({simhash_pairs_sql(_SIMHASH_BAND_CAP)}) q)
SELECT t.hamming::BIGINT AS hamming,
       count(*)::BIGINT AS n_true,
       sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_caught,
       floor(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             * 10000.0 / count(*))::BIGINT AS recall_bp
FROM t LEFT JOIN c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
GROUP BY 1
"""




def dedup_keep_first(spark, sf_dir):
    """Materialize the dedup survivor set: one row per content hash, the
    lowest doc_id wins (window filter — the DELETE-duplicates shape a
    training-data pipeline actually runs; pairs/groups queries above are
    the diagnostics)."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        "source",
                        _content_hash(F.col("text")).alias("content_hash"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "source", "content_hash"))


DEDUP_KEEP_FIRST_SQL = f"""
SELECT doc_id::BIGINT AS doc_id, source,
       {_CONTENT_HASH_SQL.format(x='text')} AS content_hash
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY {_CONTENT_HASH_SQL.format(x='text')}
  ORDER BY doc_id) = 1
"""


# --- connected components over dup pairs ------------------------------------

_CC_MAX_ITERS = 25

# scale telemetry for the last _cc_labels call (read by bench.py's sf10
# section): propagation passes = realized graph diameter bound, edge count
# = the linear-vs-data witness. A dict mutated in place, not returned,
# so the query callable keeps the uniform (spark, sf_dir) -> DataFrame shape.
CC_STATS: dict = {"passes": None, "edges": None}


def _cc_labels(pairs):
    """(node, label) for every node in ``pairs`` — label = the minimum
    doc_id reachable through the undirected pair graph (the component's
    canonical id), via iterative min-label propagation.

    Scale design: each pass is ONE equi-join of edges against labels plus
    a groupBy — both shuffle on node id, no quadratic term anywhere.
    Passes needed = graph diameter; near-dup clusters are shallow
    (near-cliques from banding), so this converges in a handful of
    passes. A 10^12-doc run with adversarial chain-shaped components
    would swap in the large-star/small-star variant (same join shapes,
    O(log n) passes). ``localCheckpoint`` truncates the per-pass lineage
    growth that would otherwise blow up the plan; the convergence check
    (changed-label count) is a driver-side scalar, not a collect."""
    # materialize the one-directional pair list BEFORE the symmetric
    # union: the union's two branches otherwise each embed the whole
    # upstream candidate pipeline (minhash sig -> bands -> self-join),
    # and the eager localCheckpoint runs that pipeline twice in one job
    # (measured 41x-over-linear at 500k docs; linear after this)
    half = pairs.select(F.col("doc_a").cast("bigint").alias("u"),
                        F.col("doc_b").cast("bigint").alias("v")) \
        .localCheckpoint()
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    # seed with min(self, direct neighbors): one groupBy (replacing the
    # plain distinct() init at the same shuffle count) and clusters of
    # diameter <= 2 — the common near-dup shape — converge a full
    # propagation pass earlier
    labels = (edges.groupBy("u").agg(F.min("v").alias("nb_min"))
              .select(F.col("u").alias("node"),
                      F.least(F.col("u"), F.col("nb_min")).alias("label"))
              .localCheckpoint())
    # labels are monotonically non-increasing, so the label sum is a
    # fixpoint witness: unchanged sum == no label moved (cheaper than a
    # join-and-count convergence probe — one agg scalar per pass)
    CC_STATS["edges"] = half.count()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for n_pass in range(_CC_MAX_ITERS):
        nb = (edges.join(labels.select(F.col("node").alias("v"),
                                       F.col("label").alias("v_label")), "v")
              .groupBy("u").agg(F.min("v_label").alias("nb_min")))
        labels = (labels.join(nb.select(F.col("u").alias("node"), "nb_min"),
                              "node", "left")
                  .select("node",
                          F.least(F.col("label"),
                                  F.coalesce(F.col("nb_min"), F.col("label")))
                          .alias("label"))
                  .localCheckpoint())
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            CC_STATS["passes"] = n_pass + 1
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"component labels did not converge in {_CC_MAX_ITERS} passes — "
        "component diameter exceeds the propagation bound; use the "
        "star-contraction variant for this graph")


def dedup_components(spark, sf_dir, pairs=None):
    """Transitive dup clusters: connected components over the MinHash-LSH
    candidate pairs. Every document gets its component's canonical
    (minimum) doc_id — pair lists say "A resembles B"; this is the step a
    training-data pipeline actually acts on (keep one doc per component).
    Singletons are their own component; ``is_canonical=1`` marks the
    survivor row of each cluster."""
    if pairs is None:
        pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_labels(pairs)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"))
    comp = F.coalesce(F.col("label"), F.col("doc_id"))
    return (docs.join(labels.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
            .select("doc_id",
                    comp.cast("bigint").alias("component"),
                    F.when(comp == F.col("doc_id"), 1).otherwise(0)
                    .cast("bigint").alias("is_canonical")))


# The oracle computes the same components independently: full reachability
# closure via a recursive CTE (min over every reachable node == min-label
# fixpoint), deliberately NOT mirroring the Spark iteration.
DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS u, doc_b AS v FROM ({MINHASH_PAIRS_SQL}) p
  UNION
  SELECT doc_b, doc_a FROM ({MINHASH_PAIRS_SQL}) p
), walk(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS component FROM walk GROUP BY u
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(c.component, d.doc_id)::BIGINT AS component,
       (CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
             THEN 1 ELSE 0 END)::BIGINT AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


def _dedup_incremental_pairs(spark, sf_dir):
    from docling_rag_spark.plans.dedup_index import dedup_incremental_pairs
    return dedup_incremental_pairs(spark, sf_dir)


# batch pairs restricted to pairs touching the md5-bucket>=90 delta slice —
# the incremental path must reproduce these EXACTLY from the materialized
# index + the delta alone (see plans/dedup_index.py)
DEDUP_INCREMENTAL_SQL = f"""
WITH pairs AS ({MINHASH_PAIRS_SQL}),
bk AS (
  SELECT doc_id::BIGINT AS doc_id,
         ('0x' || substr(md5((doc_id::BIGINT)::VARCHAR), 1, 15))::BIGINT
           % 100 AS bk
  FROM documents
)
SELECT p.doc_a, p.doc_b, p.n_shared_bands
FROM pairs p
JOIN bk a ON a.doc_id = p.doc_a
JOIN bk b ON b.doc_id = p.doc_b
WHERE a.bk >= 90 OR b.bk >= 90
"""


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_keep_first": (dedup_keep_first, DEDUP_KEEP_FIRST_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_simhash_band_stats": (dedup_simhash_band_stats,
                                 SIMHASH_BAND_STATS_SQL),
    "dedup_minhash_sig": (dedup_minhash_sig, MINHASH_SIG_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, MINHASH_PAIRS_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
}

# Driver-window hygiene: the fingerprint query is strictly upstream of
# dedup_simhash_pairs (SIMHASH_SQL is a CTE of the pairs oracle, so the
# fingerprints stay fully oracle-verified through the pairs + band-stats
# rows); it remains bench-/pytest-visible here.
DIAGNOSTICS = {
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    # recall-under-caps metrics (VERDICT r3 task 1): oracle-verified by the
    # local parity suite; sf0.1/sf1 numbers recorded in BASELINE.md
    "dedup_minhash_recall": (dedup_minhash_recall, MINHASH_RECALL_SQL),
    "dedup_simhash_recall": (dedup_simhash_recall, SIMHASH_RECALL_SQL),
    # jaccard blocking observability (driver window holds its pattern twin
    # dedup_simhash_band_stats; this one stays pytest-/bench-visible)
    "dedup_shingle_df_stats": (dedup_shingle_df_stats, SHINGLE_DF_STATS_SQL),
    # minhash bucket-cap observability (VERDICT r4 task 1): buckets over
    # _MINHASH_GROUP_CAP degrade to star edges; this exposes how often
    "dedup_minhash_group_stats": (dedup_minhash_group_stats,
                                  MINHASH_GROUP_STATS_SQL),
    # transitive closure of the pair lists — lives here (not in the
    # 50-entry driver window) but is oracle-verified by the local parity
    # suite against an independent recursive-CTE closure
    "dedup_components": (dedup_components, DEDUP_COMPONENTS_SQL),
    # incremental band-index path (plans/dedup_index.py): the 10% delta
    # slice joins the materialized index of the other 90%; twin recomputes
    # batch pairs and restricts to pairs touching the delta
    "dedup_incremental_pairs": (_dedup_incremental_pairs,
                                DEDUP_INCREMENTAL_SQL),
}
