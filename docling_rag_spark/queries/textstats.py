"""Text-analysis operators for a training-data pipeline over ``documents``.

  text_token_count — whitespace tokens + BPE-ish subword piece count
                     (deterministic: ceil(len/8) pieces per word, digit runs
                     and punctuation marks one token each; mirrors the
                     engine's from-scratch counter, functions/tokens.py)
  text_quality     — length / punctuation-ratio / stopword-ratio / mean word
                     length quality score
  text_lang_id     — stopword-hit n-gram heuristic language ID with a
                     deterministic priority tiebreak
  text_fingerprint — document fingerprint: md5 of the normalized text plus a
                     min-sampled 8-gram rolling fingerprint (winnowing-style)

All expressions are JVM-side built-ins (no Python UDFs): at 100 TB these run
inside whole-stage codegen with the parquet scan pruned to (doc_id, text).
The rolling fingerprint explodes character windows; its scale path is the
same expression fused into the scan projection — still no shuffle (the only
shuffle in this file is the final groupBy doc_id of text_fingerprint, which
AQE coalesces; at cluster scale it is a map-side-combined min()).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t

_WORD_RE = "[a-z0-9]+"

# tiny embedded stopword lists; deterministic heuristic, not a model
_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una", "es", "que"),
}


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(_WORD_RE), 0)


# --- token counting ----------------------------------------------------------

def text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    # BPE-ish: every word contributes ceil(len/8) pieces
    pieces = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(8.0)).cast("bigint"))
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?()\[\]{}\"'`]", ""))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_words"),
        (pieces + punct.cast("bigint")).alias("n_tokens"))


TOKEN_COUNT_SQL = r"""
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_words,
       (COALESCE(list_sum(list_transform(
                    regexp_extract_all(lower(text), '[a-z0-9]+'),
                    w -> CAST(ceil(length(w) / 8.0) AS BIGINT))), 0)
        + length(regexp_replace(text, '[^.,;:!?()\[\]{}"''`]', '', 'g')))::BIGINT
         AS n_tokens
FROM documents
"""


# --- quality scoring ---------------------------------------------------------

def text_quality(spark, sf_dir):
    """Ratios ship as floor-scaled BIGINTs (basis points / centi-chars):
    ``round()`` half-tie semantics differ between Spark (HALF_UP on the
    double) and DuckDB, but ``floor`` of the *identically-ordered* double
    expression is engine-stable."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_chars = F.length("text").cast("bigint")
    n_words = F.size(toks).cast("bigint")
    word_chars = F.aggregate(toks, F.lit(0).cast("bigint"),
                             lambda a, w: a + F.length(w).cast("bigint"))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*_STOP["en"])))
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    wn = F.greatest(n_words, F.lit(1))
    avg_word_len = word_chars / wn
    stop_ratio = stop_hits / wn
    score = (F.least(n_words / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
             + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
             + F.when((avg_word_len >= 3) & (avg_word_len <= 10), F.lit(1.0))
                .otherwise(F.lit(0.0)) * F.lit(0.3))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        n_chars.alias("n_chars_measured"), n_words.alias("n_words"),
        F.floor(avg_word_len * 100).cast("bigint").alias("avg_word_len_c"),
        F.floor(stop_ratio * 10000).cast("bigint").alias("stop_ratio_bp"),
        F.floor(punct / F.greatest(n_chars, F.lit(1)) * 10000).cast("bigint")
         .alias("punct_ratio_bp"),
        F.floor(score * 10000).cast("bigint").alias("quality_score_bp"))


QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, text,
         length(text)::BIGINT AS n_chars_measured,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
  FROM documents
), m AS (
  SELECT doc_id, n_chars_measured, punct,
         len(toks)::BIGINT AS n_words,
         COALESCE(list_sum(list_transform(toks, w -> length(w))), 0)
           / greatest(len(toks), 1) AS avg_word_len,
         len(list_filter(toks, w -> w IN ('the','a','of','and','to',
               'in','is','that','it','for')))
           / greatest(len(toks), 1) AS stop_ratio
  FROM base
)
SELECT doc_id::BIGINT AS doc_id, n_chars_measured, n_words,
       floor(avg_word_len * 100)::BIGINT AS avg_word_len_c,
       floor(stop_ratio * 10000)::BIGINT AS stop_ratio_bp,
       floor(punct / greatest(n_chars_measured, 1) * 10000)::BIGINT
         AS punct_ratio_bp,
       floor((least(n_words / 50.0, 1.0) * 0.4
             + least(stop_ratio * 5.0, 1.0) * 0.3
             + (CASE WHEN avg_word_len >= 3 AND avg_word_len <= 10
                     THEN 1.0 ELSE 0.0 END) * 0.3) * 10000)::BIGINT
         AS quality_score_bp
FROM m
"""


# --- language ID -------------------------------------------------------------

def text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    def _hit_counter(stops):
        # closure factory: a default-arg lambda would read as 2-ary to
        # PySpark's higher-order-function arity sniffing
        return F.size(F.filter(toks, lambda w: w.isin(*stops))).cast("bigint")

    hits = {lang: _hit_counter(stops) for lang, stops in _STOP.items()}
    # deterministic argmax: priority order en > de > fr > es on ties,
    # 'und' (undetermined) when no stopword hits at all
    pred = (F.when(sum(hits.values()) == 0, F.lit("und"))
            .when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"])
                  & (hits["en"] >= hits["es"]), F.lit("en"))
            .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]),
                  F.lit("de"))
            .when(hits["fr"] >= hits["es"], F.lit("fr"))
            .otherwise(F.lit("es")))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        hits["en"].alias("hits_en"), hits["de"].alias("hits_de"),
        hits["fr"].alias("hits_fr"), hits["es"].alias("hits_es"),
        pred.alias("predicted_lang"), F.col("lang").alias("declared_lang"))


LANG_ID_SQL = """
WITH h AS (
  SELECT doc_id, lang,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        w -> w IN ('the','a','of','and','to','in','is','that','it','for')))::BIGINT AS hits_en,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        w -> w IN ('der','die','das','und','ist','ein','zu','den','von','mit')))::BIGINT AS hits_de,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        w -> w IN ('le','la','les','et','de','un','une','est','que','pour')))::BIGINT AS hits_fr,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        w -> w IN ('el','la','los','las','y','de','un','una','es','que')))::BIGINT AS hits_es
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN hits_en + hits_de + hits_fr + hits_es = 0 THEN 'und'
            WHEN hits_en >= hits_de AND hits_en >= hits_fr
                 AND hits_en >= hits_es THEN 'en'
            WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
            WHEN hits_fr >= hits_es THEN 'fr'
            ELSE 'es' END AS predicted_lang,
       lang AS declared_lang
FROM h
"""


# --- fingerprinting ----------------------------------------------------------

def text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    base = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       norm.alias("norm"))
    # min-sampled rolling 8-gram fingerprint (winnowing-style lower bound):
    # min over sampled i of hash(substr(norm, i, 8)); md5-based so DuckDB
    # matches. Stride 4 = winnowing density 1/4 (4× fewer hashes, still one
    # window through every 8-char neighborhood). array_min folds the min
    # per-row map-side — no gram explode, no groupBy shuffle at all (the
    # naive explode shape shuffles len/4 rows per document for a
    # single-row-per-doc answer).
    return base.select(
        "doc_id", F.md5("norm").alias("content_md5"),
        F.length("norm").cast("bigint").alias("n_chars_norm"),
        F.array_min(
            F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.length("norm") - F.lit(7), F.lit(1)),
                           F.lit(4)),
                lambda i: F.conv(F.substring(F.md5(F.substring("norm", i, 8)),
                                             1, 15), 16, 10).cast("bigint"))
        ).alias("min_gram_hash"))


FINGERPRINT_SQL = """
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), grams AS (
  SELECT doc_id, md5(norm) AS content_md5,
         length(norm)::BIGINT AS n_chars_norm,
         unnest(list_transform(range(1, greatest(length(norm) - 7, 1) + 1, 4),
                i -> ('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT))
           AS gram_hash
  FROM base
)
SELECT doc_id, content_md5, n_chars_norm,
       min(gram_hash)::BIGINT AS min_gram_hash
FROM grams GROUP BY doc_id, content_md5, n_chars_norm
"""


# --- PII scrubbing -----------------------------------------------------------
# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# treat identically: literal classes, bounded repetition, no backrefs.

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_scrub_expr(col):
    """Redact emails → <EMAIL>, then phones → <PHONE>, then IPs → <IP>
    (fixed order: the oracle applies the identical sequence)."""
    out = F.regexp_replace(col, _PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, _PII_IP, "<IP>")


def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction over the corpus (the scrub stage every
    web-text training pipeline runs before tokenization). Counts are per
    doc; the redacted text ships as an md5 so the oracle verifies the
    exact redaction output without hauling full text through the compare.
    The synthetic corpus is PII-free (all-zero counts here) — the
    redaction mechanics are proven on authored PII fixtures in
    tests/test_textstats_ops.py."""
    docs = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(F.regexp_extract_all(low, F.lit(_PII_EMAIL), 0))
         .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(low, F.lit(_PII_PHONE), 0))
         .cast("bigint").alias("n_phones"),
        F.size(F.regexp_extract_all(low, F.lit(_PII_IP), 0))
         .cast("bigint").alias("n_ips"),
        F.md5(pii_scrub_expr(low)).alias("redacted_md5"))


PII_SQL = f"""
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(lower(text), '{_PII_EMAIL}'))::BIGINT
         AS n_emails,
       len(regexp_extract_all(lower(text), '{_PII_PHONE}'))::BIGINT
         AS n_phones,
       len(regexp_extract_all(lower(text), '{_PII_IP}'))::BIGINT AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
FROM documents
"""


# --- repetition stats (Gopher-style filters) ---------------------------------

def text_repetition(spark, sf_dir):
    """Token-repetition statistics (the Gopher/C4 repetition-filter
    inputs): distinct-token ratio and most-common-token mass per doc.
    One shuffle on (doc_id, tok) with map-side combine; the per-doc
    reduction is a second tiny agg on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                        _tokens(F.col("text")).alias("toks"))
            .select("doc_id", F.explode("toks").alias("tok")))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (per_tok.groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count("*").cast("bigint").alias("n_distinct"),
                 F.max("c").cast("bigint").alias("top_count"))
            .select("doc_id", "n_tokens", "n_distinct",
                    F.floor(F.col("n_distinct") * 10000.0
                            / F.col("n_tokens")).cast("bigint")
                     .alias("distinct_ratio_bp"),
                    F.floor(F.col("top_count") * 10000.0
                            / F.col("n_tokens")).cast("bigint")
                     .alias("top_token_bp")))


REPETITION_SQL = """
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), per_tok AS (
  SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok
)
SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct,
       floor(count(*) * 10000.0 / sum(c))::BIGINT AS distinct_ratio_bp,
       floor(max(c) * 10000.0 / sum(c))::BIGINT AS top_token_bp
FROM per_tok GROUP BY doc_id
"""


# --- corpus-level boilerplate n-grams ----------------------------------------

_BOILER_K = 5     # 5-word grams
_BOILER_DF = 3    # a gram in >= DF docs is boilerplate (test-corpus scale;
                  # a production crawl uses a per-snapshot calibrated value)


def corpus_boilerplate(spark, sf_dir):
    """C4-style corpus-level boilerplate detection: word 5-grams occurring
    in >= _BOILER_DF distinct documents are boilerplate; each doc reports
    how much of it is made of them. Same inverted shape as jaccard: the
    gram table is persisted (the regexp tokenize + 5-gram explode is the
    dominant cost and has two consumers — the corpus-DF aggregate and the
    mark-back join; unpersisted it ran 3x at every scale), the boilerplate
    marker rides a left join keyed on the SAME gram column, and BOTH
    per-doc counters fold in one groupBy(doc_id) — one doc-keyed shuffle,
    not two plus a doc-keyed join (measured 37.5 s -> ~22 s at sf10)."""
    from pyspark import StorageLevel
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       _tokens(F.col("text")).alias("toks"))
    from docling_rag_spark.queries.dedup import _shingles
    grams = toks.select(
        "doc_id", F.explode(_shingles(F.col("toks"), k=_BOILER_K))
        .alias("g")).persist(StorageLevel.MEMORY_AND_DISK)
    grams.count()  # eager: concurrent consumer stages race a lazy cache
    boiler = (grams.groupBy("g")
              .agg(F.count("*").alias("df"))
              .filter(F.col("df") >= _BOILER_DF)
              .select("g", F.lit(1).alias("is_b")))
    return (grams.join(boiler, "g", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.count("is_b").cast("bigint").alias("n_boiler"))
            .withColumn("boiler_bp",
                        F.floor(F.col("n_boiler") * 10000.0
                                / F.greatest(F.col("n_grams"), F.lit(1)))
                        .cast("bigint")))


_BOILER_GRAMS_SQL = """
  SELECT doc_id::BIGINT AS doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(regexp_extract_all(lower(text),
                 '[a-z0-9]+')) - {km1}, 1) + 1),
           i -> array_to_string(list_slice(regexp_extract_all(lower(text),
                 '[a-z0-9]+'), i, i + {km1}), ' ')))) AS g
  FROM documents
""".format(km1=_BOILER_K - 1)

BOILERPLATE_SQL = f"""
WITH grams AS ({_BOILER_GRAMS_SQL}),
boiler AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= {_BOILER_DF}
), per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM grams GROUP BY doc_id
), hit AS (
  SELECT doc_id, count(*)::BIGINT AS n_boiler FROM grams
  WHERE g IN (SELECT g FROM boiler) GROUP BY doc_id
)
SELECT p.doc_id, p.n_grams, COALESCE(h.n_boiler, 0)::BIGINT AS n_boiler,
       floor(COALESCE(h.n_boiler, 0) * 10000.0
             / greatest(p.n_grams, 1))::BIGINT AS boiler_bp
FROM per_doc p LEFT JOIN hit h ON p.doc_id = h.doc_id
"""


# --- composed corpus filter --------------------------------------------------

_FILTER_MIN_WORDS = 30
_FILTER_MAX_TOP_BP = 2500   # most-common token may own <= 25% of the doc


def corpus_filter(spark, sf_dir):
    """The composed keep/drop decision a training-data pipeline applies
    per document (C4/Gopher-rule shape): length gate, language gate,
    repetition gate — with the FIRST failing rule as the drop reason.
    Single text scan plus the repetition agg, joined on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    base = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(F.filter(toks, lambda w: w.isin(*_STOP["en"])))
         .cast("bigint").alias("stop_hits"))
    rep = text_repetition(spark, sf_dir).select("doc_id", "top_token_bp")
    j = base.join(rep, "doc_id", "left")
    reason = (F.when(F.col("n_words") < _FILTER_MIN_WORDS, "too_short")
              .when(F.col("stop_hits") == 0, "no_stopwords")
              .when(F.coalesce(F.col("top_token_bp"), F.lit(0))
                    > _FILTER_MAX_TOP_BP, "repetitive")
              .otherwise("ok"))
    return j.select(
        "doc_id", "n_words",
        F.coalesce(F.col("top_token_bp"), F.lit(0)).cast("bigint")
         .alias("top_token_bp"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"))


CORPUS_FILTER_SQL = f"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT
           AS n_words,
         len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             w -> w IN ('the','a','of','and','to','in','is','that','it',
                        'for')))::BIGINT AS stop_hits
  FROM documents
), t AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), per_tok AS (
  SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok
), rep AS (
  SELECT doc_id, floor(max(c) * 10000.0 / sum(c))::BIGINT AS top_token_bp
  FROM per_tok GROUP BY doc_id
), j AS (
  SELECT b.doc_id, b.n_words, b.stop_hits,
         COALESCE(r.top_token_bp, 0)::BIGINT AS top_token_bp
  FROM base b LEFT JOIN rep r ON b.doc_id = r.doc_id
)
SELECT doc_id, n_words, top_token_bp,
       CASE WHEN n_words < {_FILTER_MIN_WORDS} THEN 'too_short'
            WHEN stop_hits = 0 THEN 'no_stopwords'
            WHEN top_token_bp > {_FILTER_MAX_TOP_BP} THEN 'repetitive'
            ELSE 'ok' END AS reason,
       CASE WHEN n_words >= {_FILTER_MIN_WORDS} AND stop_hits > 0
                 AND top_token_bp <= {_FILTER_MAX_TOP_BP}
            THEN 1 ELSE 0 END AS keep
FROM j
"""


# --- character-trigram LM quality score (CCNet-shape) -------------------------

# CCNet (Wenzek et al. 2020) buckets crawl docs into head/middle/tail by
# language-model perplexity. This is that operator with a from-scratch
# char-trigram LM instead of KenLM (no models in-sandbox): the LM trains on
# the 90% split (doc_id % 10 != 0), scores EVERY doc (the held-out 10% shows
# the generalization penalty), p(c3|c1c2) = (c_tri + 1) / (c_bi + V) with
# add-one smoothing over the trained next-char vocab V.
#
# Scale shape: one trigram explode (~len chars/doc), LM = one groupBy whose
# key space is bounded by charset^3 (NOT corpus size) so the counts tables
# broadcast; scoring is a map-side broadcast join + one groupBy(doc_id).
# Portability: per-trigram log-probs floor-scale to e6 BIGINTs, the per-doc
# sum is exact integer math, and the final mean divides two exact ints as
# doubles — no float aggregation crosses engines.
#
# Casefold precondition: Spark-side lowercasing is Python str.lower();
# the twin uses DuckDB lower() (utf8proc). These agree on ASCII and on
# the vast majority of Unicode, but diverge on length-changing casefolds
# (e.g. U+0130 lowercases to 2 codepoints in Python, 1 in utf8proc),
# which would shift trigram positions between engines. documents.parquet
# is clean ASCII (same precondition webops relies on); non-ASCII corpora
# must pre-normalize (text_unicode_clean) before LM scoring.

_LM_TRAIN_MOD = 10          # doc_id % 10 != 0 trains the LM
_LM_HEAD_E6 = -700_000      # avg logprob per trigram above this => head
_LM_MIDDLE_E6 = -850_000    # above this => middle, else tail


def _trigram_keys(texts: list[str]):
    """Trigram keys of ``texts`` (each >= 3 characters) over the batch's
    concatenated UTF-32 code buffer: three 21-bit code points packed into
    one int64. Returns ``(lens, starts, vi, k3)``: each text's length and
    buffer offset, the buffer positions that start a trigram (all but the
    last 2 of each text), and their keys."""
    import numpy as np

    lens = np.array([len(t) for t in texts], dtype=np.int64)
    codes = np.frombuffer("".join(texts).encode("utf-32-le"),
                          dtype="<u4").astype(np.int64)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    doc_of = np.repeat(np.arange(len(lens)), lens)
    pos_in = np.arange(int(lens.sum())) - starts[doc_of]
    vi = np.nonzero(pos_in <= lens[doc_of] - 3)[0]
    k3 = (codes[vi] << 42) | (codes[vi + 1] << 21) | codes[vi + 2]
    return lens, starts, vi, k3


def _lm_tables(spark, sf_dir):
    """(tri->lp dict, bi->lp-of-unseen-tri dict, default lp) as exact
    floor-scaled BIGINTs. Log-probs are computed JVM-SIDE with the exact
    expression the DuckDB twin uses — parity-proven ln bit-equality —
    then collected (charset^3-bounded: ~27k rows), so the vectorized
    scoring stage below only ever does integer lookups and integer sums,
    adding zero new float surface."""
    import numpy as np
    import pandas as pd

    train = (_t(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % _LM_TRAIN_MOD != 0)
             .select("text"))

    def count_part(batches):
        # vectorized trigram counting: the JVM explode of ~len(text)
        # substring rows per doc was the LM build's dominant cost
        for pdf in batches:
            if not len(pdf):
                continue
            texts = [t for t in pdf["text"].str.lower().tolist()
                     if len(t) >= 3]
            if not texts:
                continue
            _lens, _starts, _vi, k3 = _trigram_keys(texts)
            u, c = np.unique(k3, return_counts=True)
            yield pd.DataFrame({"k": u, "c": c})

    tri_counts = (train.mapInPandas(count_part, "k bigint, c bigint")
                  .groupBy("k")
                  .agg(F.sum("c").cast("bigint").alias("c_tri")))
    bi_counts = (tri_counts
                 .groupBy(F.shiftright("k", 21).alias("b"))
                 .agg(F.sum("c_tri").cast("bigint").alias("c_bi")))
    vocab = (tri_counts
             .agg(F.countDistinct(F.col("k").bitwiseAND(F.lit(0x1FFFFF)))
                  .cast("bigint").alias("v")))

    def _lp(num, den):
        return F.floor(F.log(num.cast("double") / den.cast("double"))
                       * F.lit(1000000.0)).cast("bigint")

    tri_lp = (tri_counts
              .withColumn("b", F.shiftright("k", 21))
              .join(bi_counts, "b")
              .crossJoin(F.broadcast(vocab))
              .select("k", _lp(F.col("c_tri") + F.lit(1),
                               F.col("c_bi") + F.col("v")).alias("lp"))
              .collect())
    bi_lp = (bi_counts.crossJoin(F.broadcast(vocab))
             .select("b", _lp(F.lit(0) + F.lit(1),
                              F.col("c_bi") + F.col("v")).alias("lp"))
             .collect())
    lp0 = vocab.select(_lp(F.lit(0) + F.lit(1),
                           F.lit(0) + F.col("v")).alias("lp")
                       ).collect()[0]["lp"]
    return ({int(r["k"]): int(r["lp"]) for r in tri_lp},
            {int(r["b"]): int(r["lp"]) for r in bi_lp}, int(lp0))


_LM_SCHEMA = ("doc_id bigint, n_tri bigint, avg_lp_e6 bigint, "
              "ppl_bucket string")


def text_lm_score(spark, sf_dir):
    """Scoring is one Arrow-vectorized mapInPandas pass: trigrams become
    int64 keys (three 21-bit codepoints packed) over the batch's
    concatenated UTF-32 code buffer, log-probs come from searchsorted
    lookups into the collected LM, and per-doc sums are exact int64
    reduceat — the previous explode path pushed ~len(text) rows/doc
    through two joins and a groupBy (12.3 s at sf1; this path ~2 s)."""
    import numpy as np
    import pandas as pd

    tri_d, bi_d, lp0 = _lm_tables(spark, sf_dir)

    tri_keys = np.array(sorted(tri_d), dtype=np.int64)
    tri_lps = np.array([tri_d[k] for k in sorted(tri_d)], dtype=np.int64)
    bi_keys = np.array(sorted(bi_d), dtype=np.int64)
    bi_lps = np.array([bi_d[k] for k in sorted(bi_d)], dtype=np.int64)

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"].str.lower().tolist()
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            keep = lens >= 3
            if not keep.any():
                continue
            texts = [t for t, k in zip(texts, keep) if k]
            ids = pdf["doc_id"].to_numpy()[keep]
            lens, starts, vi, k3 = _trigram_keys(texts)
            p = np.searchsorted(tri_keys, k3)
            p_c = np.minimum(p, len(tri_keys) - 1)
            hit = (len(tri_keys) > 0) & (tri_keys[p_c] == k3)
            k2 = k3 >> 21
            q = np.searchsorted(bi_keys, k2)
            q_c = np.minimum(q, len(bi_keys) - 1)
            hit2 = (len(bi_keys) > 0) & (bi_keys[q_c] == k2)
            lp = np.where(hit, tri_lps[p_c],
                          np.where(hit2, bi_lps[q_c], lp0))
            lp_full = np.zeros(int(lens.sum()), dtype=np.int64)
            lp_full[vi] = lp
            sums = np.add.reduceat(lp_full, starts)
            n_tri = lens - 2
            avg = np.floor(sums / n_tri.astype(np.float64)
                           ).astype(np.int64)
            bucket = np.where(
                avg >= _LM_HEAD_E6, "head",
                np.where(avg >= _LM_MIDDLE_E6, "middle", "tail"))
            yield pd.DataFrame({"doc_id": ids, "n_tri": n_tri,
                                "avg_lp_e6": avg, "ppl_bucket": bucket})

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    return docs.mapInPandas(part, schema=_LM_SCHEMA)


LM_SCORE_SQL = f"""
WITH lt AS (
  SELECT doc_id::BIGINT AS doc_id, lower(text) AS lt FROM documents),
tri AS (
  SELECT doc_id, u.tri
  FROM lt, UNNEST(list_transform(
       CASE WHEN length(lt) >= 3
            THEN range(1, (length(lt) - 1)::BIGINT) ELSE [] END,
       i -> substr(lt, i::INT, 3))) AS u(tri)),
tri_counts AS (
  SELECT tri, count(*)::BIGINT AS c_tri
  FROM tri WHERE doc_id % {_LM_TRAIN_MOD} != 0 GROUP BY tri),
bi_counts AS (
  SELECT substr(tri, 1, 2) AS bi, sum(c_tri)::BIGINT AS c_bi
  FROM tri_counts GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT substr(tri, 3, 1))::BIGINT AS v FROM tri_counts),
scored AS (
  SELECT t.doc_id,
         floor(ln((COALESCE(tc.c_tri, 0) + 1)::DOUBLE
                  / (COALESCE(bc.c_bi, 0) + vv.v)::DOUBLE)
               * 1000000.0)::BIGINT AS lp_e6
  FROM tri t
  LEFT JOIN tri_counts tc ON t.tri = tc.tri
  LEFT JOIN bi_counts bc ON substr(t.tri, 1, 2) = bc.bi
  CROSS JOIN vocab vv),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tri, sum(lp_e6)::BIGINT AS sum_lp
  FROM scored GROUP BY doc_id)
SELECT doc_id, n_tri,
       floor(sum_lp::DOUBLE / n_tri::DOUBLE)::BIGINT AS avg_lp_e6,
       CASE WHEN floor(sum_lp::DOUBLE / n_tri::DOUBLE)::BIGINT
                 >= {_LM_HEAD_E6} THEN 'head'
            WHEN floor(sum_lp::DOUBLE / n_tri::DOUBLE)::BIGINT
                 >= {_LM_MIDDLE_E6} THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM agg
"""


QUERIES = {
    "text_token_count": (text_token_count, TOKEN_COUNT_SQL),
    "text_quality": (text_quality, QUALITY_SQL),
    "text_lang_id": (text_lang_id, LANG_ID_SQL),
    "text_fingerprint": (text_fingerprint, FINGERPRINT_SQL),
    "text_pii_scrub": (text_pii_scrub, PII_SQL),
    "text_repetition": (text_repetition, REPETITION_SQL),
    "corpus_boilerplate": (corpus_boilerplate, BOILERPLATE_SQL),
    "corpus_filter": (corpus_filter, CORPUS_FILTER_SQL),
}

DIAGNOSTICS = {
    "text_lm_score": (text_lm_score, LM_SCORE_SQL),
}
