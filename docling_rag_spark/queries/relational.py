"""Relational operator surface (SURVEY.md §2.2–2.7) over the driver tables.

Each entry re-expresses a reference operator Spark-first:
  a1_docs_per_source   — count-by-key agg (A1, db_storage.py:112-117)
  j1_orders_customer   — decorate-join with broadcast dim (J1, api/app.py:216-223)
  j2_catalog_card      — registry × counts × latest-per-key folded into one
                         plan: groupBy + window + broadcast joins (J2/W1,
                         api/app.py:315-333)
  w1_latest_event_per_user — row_number latest-per-key (W1, db_jobs.py:82-89)
  w2_running_value     — per-key ordered running sum (window agg)
  p2_filter_docs       — predicate resolution, case-insensitive + IN set
                         (P2, core/search.py:26-40)
  d2_tag_normalize     — lowercase/trim/drop-nullish/distinct/cap-5 tag
                         normalization (D2, core/metadata.py:76-83)
  f8_event_elapsed     — elapsed-seconds time math (F8, api/app.py:288-297)
  o3_recent_events     — ORDER BY … LIMIT with deterministic tiebreak (O3)
  a3_distinct_lang_source — distinct projection (A3, db_storage.py:69)
  q1_pricing_summary   — wide agg with exact DECIMAL partial+final sums
  q3_revenue_topk      — 3-way join + agg + top-k (broadcast small sides)

Scale notes: every agg here is partial+final (map-side combine free from
Catalyst); dims (customer, nation, documents-registry) are broadcast so the
only shuffles are on the agg keys of the fact tables.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_rag_spark.io.warehouse import read_sf_table as _t


# --- A1: count/sum by key ----------------------------------------------------

def a1_docs_per_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("doc_count"),
                 F.sum("n_chars").cast("bigint").alias("total_chars")))


A1_SQL = """
SELECT source,
       count(*)::BIGINT    AS doc_count,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
"""


# --- J1: decorate join, broadcast dim ---------------------------------------

def j1_orders_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey, "left")
            .select(F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                    F.col("o_totalprice").cast("decimal(18,2)").cast("double")
                     .alias("total_price"),
                    "c_name", "c_mktsegment"))


J1_SQL = """
SELECT o.o_orderkey::BIGINT AS o_orderkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
       c.c_name, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


# --- J2 (+W1): catalog card: registry × counts × latest-per-key -------------

def j2_catalog_card(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = (orders.groupBy("o_custkey")
              .agg(F.count("*").cast("bigint").alias("order_count"),
                   F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double").alias("total_spent")))
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    latest = (orders.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("o_custkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd")
                       .alias("last_order_date"),
                      F.col("o_orderstatus").alias("last_status")))
    return (cust.select("c_custkey", "c_name")
            .join(counts, cust.c_custkey == counts.o_custkey, "left")
            .drop("o_custkey")
            .join(latest, cust.c_custkey == latest.o_custkey, "left")
            .drop("o_custkey")
            .select("c_custkey", "c_name",
                    F.coalesce("order_count", F.lit(0)).cast("bigint")
                     .alias("order_count"),
                    F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
                    "last_order_date", "last_status"))


J2_SQL = """
WITH counts AS (
  SELECT o_custkey, count(*)::BIGINT AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
  FROM orders GROUP BY o_custkey
), latest AS (
  SELECT o_custkey,
         strftime(o_orderdate, '%Y-%m-%d') AS last_order_date,
         o_orderstatus AS last_status
  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
  WHERE rn = 1
)
SELECT c.c_custkey, c.c_name,
       COALESCE(counts.order_count, 0)::BIGINT AS order_count,
       COALESCE(counts.total_spent, 0.0) AS total_spent,
       latest.last_order_date, latest.last_status
FROM customer c
LEFT JOIN counts ON c.c_custkey = counts.o_custkey
LEFT JOIN latest ON c.c_custkey = latest.o_custkey
"""


# --- W1: latest event per user ----------------------------------------------

def w1_latest_event_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    F.col("event_id").cast("bigint").alias("event_id"),
                    "event_type",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str")))


W1_SQL = """
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
"""


# --- W2: running sum per key -------------------------------------------------

def w2_running_value(spark, sf_dir):
    """Values are quantized to integer milli-units BEFORE the window sum:
    engines disagree on windowed double accumulation order (DuckDB uses
    segment trees), so only an integer running sum is bit-portable."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    milli = F.floor(F.col("value") * 1000).cast("bigint")
    return ev.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.sum(milli).over(w).cast("bigint").alias("running_value_milli"))


W2_SQL = """
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
       sum(floor(value * 1000)::BIGINT)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS running_value_milli
FROM events
"""


# --- P2: predicate resolution (tri-state filter) -----------------------------

_P2_SOURCES = ("src1", "src7", "SRC12")  # mixed case: filter is ci


def p2_filter_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    allowed = [s.lower() for s in _P2_SOURCES]
    return (docs.filter((F.lower("lang") == "en")
                        & F.lower("source").isin(allowed))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "source", "lang"))


P2_SQL = """
SELECT doc_id::BIGINT AS doc_id, source, lang
FROM documents
WHERE lower(lang) = 'en' AND lower(source) IN ('src1', 'src7', 'src12')
"""


# --- D2: tag normalization ---------------------------------------------------

def d2_tag_normalize(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    tags = F.array_sort(F.slice(F.array_distinct(
        F.filter(
            F.transform(F.split(F.lower("p_type"), " "),
                        lambda x: F.trim(x)),
            lambda x: ~x.isin("", "null", "none"))), 1, 5))
    return part.select(F.col("p_partkey").cast("bigint").alias("p_partkey"),
                       F.array_join(tags, ",").alias("tags_norm"))


D2_SQL = """
SELECT p_partkey::BIGINT AS p_partkey,
       array_to_string(
         list_sort(list_slice(list_distinct(
           list_filter(list_transform(string_split(lower(p_type), ' '),
                                      x -> trim(x)),
                       x -> x NOT IN ('', 'null', 'none'))), 1, 5)),
         ',') AS tags_norm
FROM part
"""


# --- F8: elapsed-seconds time math -------------------------------------------

def f8_event_elapsed(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 (F.unix_timestamp(F.max("ts"))
                  - F.unix_timestamp(F.min("ts"))).cast("bigint")
                 .alias("elapsed_secs"))
            .select(F.col("user_id").cast("bigint").alias("user_id"),
                    "n_events", "elapsed_secs"))


F8_SQL = """
SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS n_events,
       (floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT)
         AS elapsed_secs
FROM events GROUP BY user_id
"""


# --- O3: recent-n with deterministic tiebreak --------------------------------

def o3_recent_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(50)
            .select(F.col("event_id").cast("bigint").alias("event_id"),
                    "event_type",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str")))


O3_SQL = """
SELECT event_id::BIGINT AS event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM events ORDER BY ts DESC, event_id DESC LIMIT 50
"""


# --- A3: distinct projection -------------------------------------------------

def a3_distinct_lang_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


A3_SQL = "SELECT DISTINCT lang, source FROM documents"


# --- Q1: pricing summary (exact DECIMAL partial+final agg) -------------------

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                  .alias("sum_base_price"),
                 F.sum((dec("l_extendedprice")
                        * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                       .cast("decimal(28,4)"))
                  .cast("double").alias("sum_disc_price"),
                 F.count("*").cast("bigint").alias("count_order")))


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3: 3-way join + agg + top-k --------------------------------------------

def q3_revenue_topk(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                      .alias("order_date"))
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
            .select(F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
                    "order_date", "revenue"))


Q3_SQL = """
SELECT l.l_orderkey::BIGINT AS l_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


# --- Q5-style: 5-way join + agg (join-order/broadcast chain exercise) --------

def q5_supplier_volume(spark, sf_dir):
    """Revenue by nation for suppliers serving same-nation customers —
    a 5-way join where Catalyst broadcast-chains every dim (region, nation,
    customer, supplier) around the lineitem fact; one shuffle on the agg
    key. DECIMAL sums keep the oracle exact."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .filter(cust.c_nationkey == supp.s_nationkey)
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").cast("bigint").alias("n_lineitems")))


Q5_SQL = """
SELECT n.n_name,
       CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n_lineitems
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey AND r.r_name = 'ASIA'
GROUP BY n.n_name
"""


# --- ROLLUP: hierarchical totals ---------------------------------------------

def q_rollup_orders(spark, sf_dir):
    """GROUP BY ROLLUP(priority, status): per-group, per-priority subtotal,
    and grand total in one pass (Expand + single shuffle). NULL grouping
    slots are labeled so the oracle hash is stable."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").cast("bigint").alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_price"))
            .select(F.coalesce("o_orderpriority", F.lit("<all>"))
                     .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("<all>"))
                     .alias("status"),
                    "n_orders", "total_price"))


ROLLUP_SQL = """
SELECT COALESCE(o_orderpriority, '<all>') AS priority,
       COALESCE(o_orderstatus, '<all>') AS status,
       count(*)::BIGINT AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


# --- F7: JSON parsing --------------------------------------------------------

def events_json_props(spark, sf_dir):
    """Parse the events ``props`` JSON column (F7: json encode/decode,
    db_storage.py:80) and aggregate the extracted field."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (ev.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(k).cast("bigint").alias("sum_k"),
                 F.min(k).cast("bigint").alias("min_k"),
                 F.max(k).cast("bigint").alias("max_k")))


JSON_PROPS_SQL = """
SELECT event_type, count(*)::BIGINT AS n,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
       max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
FROM events GROUP BY event_type
"""


# --- O5: snippet truncation --------------------------------------------------

def doc_snippet(spark, sf_dir):
    """First ~300 chars cut at a word boundary, newlines flattened — the
    metadata-extraction snippet contract (O5, core/metadata.py:40-52 at
    query scale; the 8000-char LLM budget scaled to the preview size F4)."""
    docs = _t(spark, sf_dir, "documents")
    flat = F.translate(F.col("text"), "\n", " ")
    head = F.substring(flat, 1, 300)
    # cut back to the last full word when we truncated mid-word
    cut = F.when(F.length(flat) <= 300, head).otherwise(
        F.substring(head, 1,
                    F.length(head) - F.length(
                        F.element_at(F.split(head, " "), -1))))
    return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       F.trim(cut).alias("snippet"),
                       F.length(F.trim(cut)).cast("bigint")
                        .alias("snippet_len"))


SNIPPET_SQL = """
WITH h AS (
  SELECT doc_id, replace(text, chr(10), ' ') AS flat,
         substr(replace(text, chr(10), ' '), 1, 300) AS head
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       trim(CASE WHEN length(flat) <= 300 THEN head
                 ELSE substr(head, 1, length(head) - length(
                      list_extract(string_split(head, ' '), -1))) END)
         AS snippet,
       length(trim(CASE WHEN length(flat) <= 300 THEN head
                 ELSE substr(head, 1, length(head) - length(
                      list_extract(string_split(head, ' '), -1))) END))::BIGINT
         AS snippet_len
FROM h
"""


# --- skew pattern: salted two-phase aggregation ------------------------------

def a2_salted_count(spark, sf_dir):
    """Two-phase salted aggregation: phase 1 groups on (key, salt) —
    spreading a hot key over 16 reducers — phase 2 merges the partials.
    Result is identical to a plain GROUP BY (the oracle proves it); the
    pattern is what a skewed 100 TB key distribution requires when AQE's
    skew handling isn't enough."""
    ev = _t(spark, sf_dir, "events")
    salted = (ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
              .groupBy("event_type", "salt")
              .agg(F.count("*").alias("pn"),
                   F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                    .alias("pv")))
    return (salted.groupBy("event_type")
            .agg(F.sum("pn").cast("bigint").alias("n_events"),
                 F.sum("pv").cast("bigint").alias("value_milli")))


A2_SALTED_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(floor(value * 1000)::BIGINT)::BIGINT AS value_milli
FROM events GROUP BY event_type
"""




# --- set operations ----------------------------------------------------------

def set_ops_customers(spark, sf_dir):
    """INTERSECT / EXCEPT surface (absent in the reference — engine
    completeness): high-balance customers split by whether they have
    orders. Both branches reuse the same scans; the set ops shuffle on the
    full row (distinct semantics)."""
    cust = _t(spark, sf_dir, "customer")
    rich = (cust.filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").cast("bigint").alias("c_custkey")))
    with_orders = (_t(spark, sf_dir, "orders")
                   .select(F.col("o_custkey").cast("bigint")
                           .alias("c_custkey")).distinct())
    both = rich.intersect(with_orders).withColumn("segment",
                                                  F.lit("rich_with_orders"))
    # subtract = distinct EXCEPT, matching the oracle's EXCEPT (exceptAll
    # would be multiset semantics and diverge on duplicate input rows)
    only_rich = rich.subtract(with_orders).withColumn(
        "segment", F.lit("rich_no_orders"))
    return both.unionByName(only_rich)


SET_OPS_SQL = """
SELECT c_custkey::BIGINT AS c_custkey, 'rich_with_orders' AS segment
FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey::BIGINT AS c_custkey, 'rich_no_orders' AS segment
FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT SELECT o_custkey FROM orders)
"""




# --- time-series: tumbling-window aggregation --------------------------------

def events_hourly(spark, sf_dir):
    """Tumbling 1-hour windows over the event stream (batch shape of the
    Structured Streaming windowed agg; date_trunc is the portable bucket)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                     "yyyy-MM-dd HH:mm:ss").alias("hour"),
                       "event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
                  .cast("bigint").alias("value_milli")))


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*)::BIGINT AS n,
       sum(floor(value * 1000)::BIGINT)::BIGINT AS value_milli
FROM events GROUP BY 1, 2
"""


# --- as-of join: latest prior click per event --------------------------------

def events_asof_prev_click(spark, sf_dir):
    """As-of (point-in-time) join expressed as an ignore-nulls window —
    for every event, the most recent preceding 'click' of the same user.
    The window form beats an actual range self-join: one shuffle on
    user_id, no quadratic candidate set (the scale answer for as-of joins
    when the probe and build sides share a partition key)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prev_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True).over(w)
    return (ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_click))
        .cast("bigint").alias("secs_since_click")))


ASOF_SQL = """
SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id, event_type,
       (floor(epoch(ts))::BIGINT - floor(epoch(
          last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ))::BIGINT) AS secs_since_click
FROM events
"""


# --- exact quantiles ---------------------------------------------------------

def events_quantiles(spark, sf_dir):
    """Exact discrete percentiles per group (percentile_disc picks real
    data values, so both engines agree bit-for-bit — no interpolation)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
                 .alias("p50"),
                 F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
                 .alias("p90"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


QUANTILES_SQL = """
SELECT event_type,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY event_type
"""


def events_approx_users(spark, sf_dir):
    """HyperLogLog approximate distinct (sketch differs from DuckDB's —
    rows-only check; the exact twin is a3/a1-style distinct counts)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id").cast("bigint")
                 .alias("approx_users"),
                 F.count_distinct("user_id").cast("bigint")
                  .alias("exact_users")))




# --- range join --------------------------------------------------------------

def events_range_join(spark, sf_dir):
    """Interval/range join: for each error event, count the same user's
    clicks in the preceding 10 minutes. The equi-key (user_id) carries the
    shuffle; the range predicate is a post-join filter — at scale this is
    a co-partitioned sort-merge join, never a cross join."""
    ev = _t(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("err_id"),
                      F.col("user_id").alias("u"),
                      F.col("ts").alias("err_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("u"),
                      F.col("ts").alias("click_ts")))
    joined = errors.join(
        clicks,
        (errors.u == clicks.u)
        & (clicks.click_ts >= errors.err_ts - F.expr("INTERVAL 10 MINUTES"))
        & (clicks.click_ts < errors.err_ts), "left")
    return (joined.groupBy("err_id")
            .agg(F.count("click_ts").cast("bigint")
                 .alias("clicks_before"))
            .select(F.col("err_id").cast("bigint").alias("err_id"),
                    "clicks_before"))


RANGE_JOIN_SQL = """
SELECT e.event_id::BIGINT AS err_id,
       count(c.ts)::BIGINT AS clicks_before
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id AND c.event_type = 'click'
 AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id
"""


QUERIES = {
    "a1_docs_per_source": (a1_docs_per_source, A1_SQL),
    "j1_orders_customer": (j1_orders_customer, J1_SQL),
    "j2_catalog_card": (j2_catalog_card, J2_SQL),
    "w1_latest_event_per_user": (w1_latest_event_per_user, W1_SQL),
    "w2_running_value": (w2_running_value, W2_SQL),
    "p2_filter_docs": (p2_filter_docs, P2_SQL),
    "d2_tag_normalize": (d2_tag_normalize, D2_SQL),
    "f8_event_elapsed": (f8_event_elapsed, F8_SQL),
    "o3_recent_events": (o3_recent_events, O3_SQL),
    "a3_distinct_lang_source": (a3_distinct_lang_source, A3_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_revenue_topk": (q3_revenue_topk, Q3_SQL),
    "q5_supplier_volume": (q5_supplier_volume, Q5_SQL),
    "q_rollup_orders": (q_rollup_orders, ROLLUP_SQL),
    "events_json_props": (events_json_props, JSON_PROPS_SQL),
    "doc_snippet": (doc_snippet, SNIPPET_SQL),
    "a2_salted_count": (a2_salted_count, A2_SALTED_SQL),
    "set_ops_customers": (set_ops_customers, SET_OPS_SQL),
    "events_hourly": (events_hourly, EVENTS_HOURLY_SQL),
    "events_asof_prev_click": (events_asof_prev_click, ASOF_SQL),
    "events_quantiles": (events_quantiles, QUANTILES_SQL),
    "events_range_join": (events_range_join, RANGE_JOIN_SQL),
}

# HLL's sketch is engine-specific, so this op can never hash-match a
# DuckDB twin; it lives outside the driver window, whose approx-distinct
# slot is instead held by the deterministic (oracle-checkable) KMV sketch
# `events_kmv_users` in queries/curation.py.
DIAGNOSTICS = {
    "events_approx_users": (events_approx_users, None),
}
