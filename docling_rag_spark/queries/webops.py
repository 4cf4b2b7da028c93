"""Web-corpus operators Spark lacks as built-ins: as-of join, URL
canonicalization with per-domain caps, corpus-level duplicate-span
removal, and unicode web-text normalization.

All four are DIAGNOSTICS (the driver CORRECTNESS window is full at 50
oracle-backed queries) but carry full DuckDB oracles, so
tests/test_oracle_parity.py hash-checks them exactly like driver rows.

- ``events_asof_join`` — point-in-time (as-of) join, the operator family the
  reference's search-log analytics would need for "state at query time"
  questions. Spark has no ASOF JOIN; the classic range-join encoding
  explodes at scale, so this uses the union-marker window: tag both streams,
  union, one window per key ordered by (ts, marker) carrying the right
  side's last non-null value forward. ONE shuffle on user_id, no range
  blow-up — the plan a 100 TB event table needs. Oracle: DuckDB's native
  ASOF LEFT JOIN (inclusive ts >= semantics match the marker ordering).

- ``url_canonical_cap`` — URL canonicalization (lowercase scheme+host, strip
  default port / fragment / www. / tracking params) plus C4/RefinedWeb-style
  per-host document caps. The messy URL is synthesized deterministically
  from doc_id with IDENTICAL expressions in both engines (documents.parquet
  carries no url column), so the oracle checks the canonicalizer, not the
  synthesis. Regexes stay in the Java∩RE2 subset (no lookaround); backref
  syntax differs per engine ($1 vs \\1) so replacements are written per side.

- ``corpus_span_dedup`` — duplicated-span removal (Lee et al. 2021 /
  RefinedWeb exact-line dedup, over word-soup docs as non-overlapping
  4-token spans): spans are hashed corpus-wide, every occurrence after the
  first (ordered by doc_id, span position) is dropped, and surviving spans
  reassemble in document order. Two shuffles (window on span, regroup on
  doc) — no all-pairs anywhere, scale-safe at 10^12 spans.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t


# --- as-of join ---------------------------------------------------------------

def events_asof_join(spark, sf_dir):
    """For every 'view' event: value and age of the user's latest 'click'
    at-or-before the view. Union-marker window — one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    # right side deduped to one row per (user_id, ts): deterministic arg-max
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max_by("value", "event_id").alias("cvalue")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("event_id", "user_id", "ts"))
    # the click row rides as ONE struct: last(ignorenulls) then matches on
    # row presence, not value presence — a click whose value is NULL still
    # wins the as-of match (exactly what ASOF JOIN does) instead of being
    # skipped in favor of an older click
    left = views.select(
        "event_id", "user_id", "ts",
        F.lit(1).alias("m"),
        F.lit(None).cast("struct<cts:timestamp,cvalue:double>").alias("c"))
    right = clicks.select(
        F.lit(None).cast("bigint").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("m"),
        F.struct(F.col("ts").alias("cts"),
                 F.col("cvalue").alias("cvalue")).alias("c"))
    u = left.unionByName(right)
    # marker 0 (click) sorts before marker 1 (view) at equal ts => a click
    # at exactly the view's ts counts (DuckDB ASOF ts >= is inclusive too)
    w = (Window.partitionBy("user_id").orderBy("ts", "m")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (u.select(
        "event_id", "user_id", "ts", "m",
        F.last("c", ignorenulls=True).over(w).alias("asof"))
        .filter(F.col("m") == 1))
    return out.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("asof.cvalue").alias("asof_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof.cts"))
        .cast("bigint").alias("age_secs"))


EVENTS_ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS cvalue
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT v.event_id::BIGINT AS event_id,
       v.user_id::BIGINT  AS user_id,
       c.cvalue           AS asof_value,
       (floor(epoch(v.ts))::BIGINT - floor(epoch(c.ts))::BIGINT) AS age_secs
FROM views v ASOF LEFT JOIN clicks c
  ON v.user_id = c.user_id AND v.ts >= c.ts
"""


# --- URL canonicalization + per-host cap --------------------------------------

_HOST_CAP = 5
_TRACK = "(utm_[a-zA-Z]+|fbclid|gclid)"


def _synth_url(doc_id):
    """Messy deterministic URL (Spark side; the SQL mirrors it verbatim)."""
    q = (F.when(doc_id % 4 == 0,
                F.concat(F.lit("?utm_source=feed&utm_campaign=x&id="),
                         doc_id.cast("string")))
         .when(doc_id % 4 == 1,
               F.concat(F.lit("?id="), doc_id.cast("string"),
                        F.lit("&utm_medium=email")))
         .when(doc_id % 4 == 2,
               F.concat(F.lit("?fbclid=abc"), doc_id.cast("string")))
         .otherwise(F.lit("")))
    frag = F.when(doc_id % 5 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    return F.concat(
        F.lit("HTTPS://WWW.Host"), (doc_id % 23).cast("string"),
        F.lit(".Example.COM:443/Articles/Item-"), doc_id.cast("string"),
        q, frag)


def canonicalize_url(url):
    """Spark column expression: canonical form of a raw URL."""
    u = F.regexp_replace(url, r"#.*$", "")                       # fragment
    prefix = F.lower(F.regexp_extract(u, r"^([^/]+//[^/:?#]+(:[0-9]+)?)", 1))
    rest = F.regexp_replace(u, r"^[^/]+//[^/:?#]+(:[0-9]+)?", "")
    u = F.concat(prefix, rest)
    # no lookahead (RE2 oracle side lacks it): capture the delimiter instead
    u = F.regexp_replace(u, r"^(https://[^/:]+):443([/?]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:]+):80([/?]|$)", "$1$2")
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    u = F.regexp_replace(u, r"&" + _TRACK + r"=[^&#]*", "")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"=[^&#]*$", "")
    return u


def url_canonical_cap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    raw = _synth_url(doc_id)
    base = docs.select(
        doc_id.cast("bigint").alias("doc_id"),
        canonicalize_url(raw).alias("url_canon"))
    base = base.withColumn(
        "host", F.regexp_extract("url_canon", r"^https?://([^/:?#]+)", 1))
    w = Window.partitionBy("host").orderBy("doc_id")
    return base.select(
        "doc_id", "url_canon", "host",
        (F.row_number().over(w) <= _HOST_CAP).alias("kept"))


URL_CANONICAL_SQL = r"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.Host' || (doc_id % 23)::VARCHAR ||
         '.Example.COM:443/Articles/Item-' || doc_id::VARCHAR ||
         CASE doc_id % 4
           WHEN 0 THEN '?utm_source=feed&utm_campaign=x&id=' || doc_id::VARCHAR
           WHEN 1 THEN '?id=' || doc_id::VARCHAR || '&utm_medium=email'
           WHEN 2 THEN '?fbclid=abc' || doc_id::VARCHAR
           ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS url
  FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     lower(regexp_extract(
                       regexp_replace(url, '#.*$', ''),
                       '^([^/]+//[^/:?#]+(:[0-9]+)?)', 1)) ||
                     regexp_replace(regexp_replace(url, '#.*$', ''),
                                    '^[^/]+//[^/:?#]+(:[0-9]+)?', ''),
                     '^(https://[^/:]+):443([/?]|$)', '\1\2'),
                   '^(http://[^/:]+):80([/?]|$)', '\1\2'),
                 '^(https?://)www\.', '\1'),
               '&(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*', '', 'g'),
             '\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*&', '?'),
           '\?(utm_[a-zA-Z]+|fbclid|gclid)=[^&#]*$', '') AS url_canon
  FROM raw
)
SELECT doc_id::BIGINT AS doc_id, url_canon,
       regexp_extract(url_canon, '^https?://([^/:?#]+)', 1) AS host,
       (row_number() OVER (
          PARTITION BY regexp_extract(url_canon, '^https?://([^/:?#]+)', 1)
          ORDER BY doc_id) <= 5) AS kept
FROM canon
"""


# --- corpus duplicate-span removal --------------------------------------------

_SPAN_W = 4


def corpus_span_dedup(spark, sf_dir):
    """Remove every corpus-wide repeat of a 4-token span, keeping the first
    occurrence by (doc_id, span position); reassemble surviving text."""
    docs = _t(spark, sf_dir, "documents")
    W = _SPAN_W
    # materialize the words array BEFORE indexing it (Catalyst HOF pitfall:
    # a lambda closing over an unmaterialized split() re-evaluates it per use)
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    idx = words.select(
        "doc_id", "w",
        F.explode(F.sequence(
            F.lit(0),
            F.ceil(F.size("w") / F.lit(float(W))).cast("int") - 1,
        )).alias("span_no"))
    spans = idx.select(
        "doc_id", "span_no",
        F.concat_ws(" ", F.slice("w", F.col("span_no") * W + 1, W))
        .alias("span"))
    rn = F.row_number().over(
        Window.partitionBy("span").orderBy("doc_id", "span_no"))
    marked = spans.select("doc_id", "span_no", "span", rn.alias("rn"))
    kept_struct = F.when(F.col("rn") == 1,
                         F.struct("span_no", "span"))
    return (marked.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_spans"),
                 F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s["span"]),
                     " ")).alias("dedup_md5"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "n_spans", "n_kept", "dedup_md5"))


SPAN_DEDUP_SQL = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), idx AS (
  SELECT doc_id, w,
         UNNEST(range(0, CAST(ceil(len(w) / 4.0) AS BIGINT))) AS span_no
  FROM words
), spans AS (
  SELECT doc_id, span_no,
         array_to_string(w[(span_no*4+1):(span_no*4+4)], ' ') AS span
  FROM idx
), marked AS (
  SELECT doc_id, span_no, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) AS rn
  FROM spans
)
SELECT doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_spans,
       (count(*) FILTER (rn = 1))::BIGINT AS n_kept,
       md5(coalesce(string_agg(span, ' ' ORDER BY span_no)
                    FILTER (rn = 1), '')) AS dedup_md5
FROM marked GROUP BY doc_id
"""


# --- unicode web-text normalization -------------------------------------------

# Crawl text arrives with typographic unicode that fragments token/dedup
# spaces: curly quotes, en/em dashes, NBSP, zero-width chars, soft hyphens,
# ellipsis glyphs. This op canonicalizes them with pure JVM-side expressions
# (translate + regexp_replace - no Python anywhere), so at 100 TB it fuses
# into the scan projection with zero exchanges. The messy input is
# synthesized deterministically from doc_id (documents.parquet is clean
# ASCII), IDENTICALLY in both engines - the oracle checks the cleaner.
# All special characters are built from explicit \u escapes: NBSP vs ASCII
# space is invisible in source text, and both engine strings interpolate
# from the SAME Python constants so they cannot drift.

_ZW_CHARS = "\u200b\u200c\u200d\ufeff\u00ad"  # zero-widths + BOM + soft hyphen
_ZW_RE = "[" + _ZW_CHARS + "]"
_TRANS_FROM = "\u201c\u201d\u2018\u2019\u2013\u2014\u00a0"  # curly/dash/NBSP
_TRANS_TO = '""' + "''" + "-- "
_ELLIPSIS = "\u2026"
_MESSY_PRE_A = "\ufeff\u201c"
_MESSY_SUF_A = "\u201d \u2013 tail\u2026"
_MESSY_PRE_B = "\u2018"
_MESSY_SUF_B = "\u2019\u200bmid\u2014dash\u00ad end"


def _synth_messy(doc_id, text):
    """Deterministic unicode-mess injection (mirrored verbatim in SQL)."""
    return (F.when(doc_id % 3 == 0,
                   F.concat(F.lit(_MESSY_PRE_A), text, F.lit(_MESSY_SUF_A)))
            .when(doc_id % 3 == 1,
                  F.concat(F.lit(_MESSY_PRE_B), text, F.lit(_MESSY_SUF_B)))
            .otherwise(text))


def clean_unicode(col):
    """Spark column expression: canonical web-text form. Operation order is
    load-bearing (the SQL twin repeats it verbatim): translate typographic
    chars -> drop zero-widths -> expand ellipsis -> collapse whitespace."""
    c = F.translate(col, _TRANS_FROM, _TRANS_TO)
    c = F.regexp_replace(c, _ZW_RE, "")
    c = F.regexp_replace(c, _ELLIPSIS, "...")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def text_unicode_clean(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    raw = _synth_messy(doc_id, F.col("text"))
    base = docs.select(doc_id.cast("bigint").alias("doc_id"),
                       raw.alias("raw"))
    return base.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("len_raw"),
        F.length(clean_unicode(F.col("raw"))).cast("bigint")
        .alias("len_clean"),
        F.md5(clean_unicode(F.col("raw"))).alias("clean_md5"))


UNICODE_CLEAN_SQL = f"""
WITH raw AS (
  SELECT doc_id::BIGINT AS doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '{_MESSY_PRE_A}' || text || '{_MESSY_SUF_A}'
              WHEN doc_id % 3 = 1
              THEN '{_MESSY_PRE_B}' || text || '{_MESSY_SUF_B}'
              ELSE text END AS raw
  FROM documents),
cleaned AS (
  SELECT doc_id, raw,
         trim(regexp_replace(
           replace(
             regexp_replace(
               translate(raw, '{_TRANS_FROM}', '""' || $$''$$ || '-- '),
               '{_ZW_RE}', '', 'g'),
             '{_ELLIPSIS}', '...'),
           '\\s+', ' ', 'g')) AS clean
  FROM raw)
SELECT doc_id, length(raw)::BIGINT AS len_raw,
       length(clean)::BIGINT AS len_clean, md5(clean) AS clean_md5
FROM cleaned
"""


QUERIES: dict = {}

DIAGNOSTICS = {
    "events_asof_join": (events_asof_join, EVENTS_ASOF_SQL),
    "url_canonical_cap": (url_canonical_cap, URL_CANONICAL_SQL),
    "corpus_span_dedup": (corpus_span_dedup, SPAN_DEDUP_SQL),
    "text_unicode_clean": (text_unicode_clean, UNICODE_CLEAN_SQL),
}
